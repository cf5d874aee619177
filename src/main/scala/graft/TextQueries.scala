package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.VectorOps

/** §2.3 text-analysis operators over `documents` — language ID, quality
  * scoring, token counting, fingerprinting. All pure column expressions
  * (codegen), all DuckDB-oracled.
  */
object TextQueries {
  import Tables._

  /** The deterministic MESSY-url fixture shared by q_url_canonical and
    * q_url_dedup (the corpus has no URL column — the q_redact_pii
    * pattern): three shapes covering case/port/dot-segment/tracking/
    * fragment dirt. The bounded id moduli (100/9/5) guarantee genuine
    * cross-document collisions after canonicalization, so the dedup
    * operator demonstrably fires.
    */
  private def messyUrl: org.apache.spark.sql.Column =
    when(
      pmod(col("doc_id"), lit(3)) === 0,
      concat(
        lit("HTTP://WWW."), col("source"),
        lit(".Example.COM:80/a/./b/../c%7Ed/?utm_source=feed&id="),
        (col("doc_id") % 100).cast("string"), lit("&ref=tw#sec")))
      .when(
        pmod(col("doc_id"), lit(3)) === 1,
        concat(
          lit("https://CDN."), col("source"),
          lit(".example.com:443/img/x/../y/z.png?gclid=g&size="),
          (col("doc_id") % 9).cast("string"), lit("px")))
      .otherwise(
        concat(
          lit("http://"), col("source"), lit(".example.com/docs/"),
          (col("doc_id") % 5).cast("string"), lit("/index.html")))

  /** DuckDB-side canonicalization of [[messyUrl]] (CTE chain ending in a
    * relation `qp` exposing doc_id, url, scheme, host, cpath, cq) — shared
    * textually by the q_url_canonical and q_url_dedup oracles.
    */
  private val duckCanonicalCte: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 3 AS INT)
      |      WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/a/./b/../c%7Ed/?utm_source=feed&id=' || CAST(doc_id % 100 AS VARCHAR) || '&ref=tw#sec'
      |      WHEN 1 THEN 'https://CDN.' || source || '.example.com:443/img/x/../y/z.png?gclid=g&size=' || CAST(doc_id % 9 AS VARCHAR) || 'px'
      |      ELSE 'http://' || source || '.example.com/docs/' || CAST(doc_id % 5 AS VARCHAR) || '/index.html'
      |    END AS url
      |  FROM documents),
      |parts AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
      |  FROM u),
      |hostp AS (
      |  SELECT *,
      |    CASE WHEN scheme = 'http'
      |           THEN regexp_replace(regexp_replace(auth, '^www\.', ''), ':80$', '')
      |         WHEN scheme = 'https'
      |           THEN regexp_replace(regexp_replace(auth, '^www\.', ''), ':443$', '')
      |         ELSE regexp_replace(auth, '^www\.', '') END AS host
      |  FROM parts),
      |pathp AS (
      |  SELECT *,
      |    regexp_replace(regexp_replace(regexp_replace(
      |      regexp_replace(regexp_replace(regexp_replace(
      |        regexp_replace(regexp_replace(
      |          regexp_replace(
      |            CASE WHEN rawpath = '' THEN '/' ELSE rawpath END,
      |            '%7[Ee]', '~', 'g'),
      |          '/(\./)+', '/', 'g'),
      |        '/\.$', '/', 'g'),
      |      '/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)/\.\./', '/', 'g'), '/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)/\.\.$', '/', 'g'), '^(/\.\.)+/', '/', 'g'),
      |      '/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)/\.\./', '/', 'g'), '/([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+)/\.\.$', '/', 'g'), '^(/\.\.)+/', '/', 'g')
      |      AS cpath
      |  FROM hostp),
      |qp AS (
      |  SELECT *,
      |    regexp_replace(
      |      regexp_replace('&' || rawq, '&(utm_[^=&]*|ref|fbclid|gclid|mc_eid)=[^&]*', '', 'g'),
      |      '^&+', '', 'g') AS cq
      |  FROM pathp)""".stripMargin

  /** The deterministic crawl-page fixture shared by q_link_extract and
    * q_url_frontier: five links exercising every RFC 3986 resolution case
    * (absolute with port/case/dot/tracking dirt, relative, parent-
    * relative, root-relative with a tracking param, protocol-relative)
    * plus a fragment-only self-reference the extractor must drop. Bounded
    * moduli (7/9/3/5) guarantee genuine cross-document URL collisions, so
    * the frontier's referrer counts are non-trivial.
    */
  private def linkFixturePage: org.apache.spark.sql.Column = {
    val j = (col("doc_id") % 7).cast("string")
    val k = (col("doc_id") % 9).cast("string")
    val r = (col("doc_id") % 3).cast("string")
    concat(
      lit("<html><body><p>Crawl fixture</p>" +
        "<a href=\"HTTPS://Ext.Example.ORG:443/lib/x/../p"), j,
      lit(".html?utm_source=feed&q="), r,
      lit("#frag\">ext</a><a href=\"sub/page"), k,
      lit(".html\">rel</a><a href=\"../up/idx"), r,
      lit(".html\">parent</a><a href=\"/search?q="), j,
      lit("&gclid=zz\">root</a><a href=\"//cdn.example.net/lib.js\">proto</a>" +
        "<a href=\"#toc\">toc</a></body></html>")
    )
  }

  /** The fixture page's base URL (the q_url_canonical fixture's clean
    * third shape — already canonical, so resolution dirt is attributable
    * to the links alone).
    */
  private def linkFixtureBase: org.apache.spark.sql.Column =
    concat(
      lit("http://"), col("source"), lit(".example.com/docs/"),
      (col("doc_id") % 5).cast("string"), lit("/index.html"))

  /** The real extract→resolve→canonicalize chain over the fixture pages:
    * (doc_id, pos, href, url). One Generate, zero exchanges.
    */
  private[graft] def extractedLinks(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    import graft.functions.UrlFunctions
    documents(s, d)
      .select(col("doc_id"), linkFixtureBase.as("base"), linkFixturePage.as("page"))
      .select(
        col("doc_id"),
        col("base"),
        posexplode(regexp_extract_all(col("page"), lit("href=\"([^\"]*)\""), lit(1)))
          .as(Seq("pos", "href")))
      .filter(!col("href").startsWith("#"))
      // Resolve into a NAMED column before canonicalizing: canonicalizeUrl
      // references its input ~10 times, so inlining the resolve tree there
      // multiplies it tenfold — a generated-code blowup that trips janino
      // and drops the whole Generate stage to interpreted execution.
      // CollapseProject keeps the two projections apart exactly because
      // the non-cheap `resolved` reference would be duplicated.
      .select(
        col("doc_id"),
        col("pos"),
        col("href"),
        UrlFunctions.resolveUrl(col("base"), col("href")).as("resolved"))
      .select(
        col("doc_id"),
        col("pos"),
        col("href"),
        UrlFunctions.canonicalizeUrl(col("resolved")).as("url"))
  }

  /** Frontier candidates shared by q_url_frontier and
    * q_frontier_politeness: extracted links collapse to one row per
    * canonical URL with a referrer count (ONE partial-agg'd groupBy),
    * already-crawled URLs drop out (deterministic md5-prefix ledger
    * membership), and each host keeps its top-`n` by (n_refs, url) via
    * the two-stage per-host cap (shuffle-free bounded-heap pre-cap, then
    * a window over ≤ n rows per host per input partition — a mega-host
    * never funnels its whole URL set through one reducer). Columns:
    * (host, url, n_refs, rk).
    */
  private[graft] def frontierCandidates(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      n: Int
  ): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val refs = extractedLinks(s, d)
      .groupBy("url")
      .agg(count(lit(1)).as("n_refs"))
      .filter(!substring(md5(col("url")), 1, 1).isin("0", "1", "2"))
      .select(
        col("url"),
        graft.functions.UrlFunctions.urlHost(col("url")).as("host"),
        col("n_refs"))
    val pre = graft.operators.EtlOps
      .topKPerKey(refs.as[(String, String, Long)], n)(_._2)(
        Ordering.by(t => (-t._3, t._1)))
      .toDF("url", "host", "n_refs")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col("n_refs").desc, col("url"))
    pre
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select("host", "url", "n_refs", "rk")
  }

  /** The hex digits, as the SQL literal both engines' [[md5Digit]] reads. */
  private val hexDigits = "'0123456789abcdef'"

  /** Digit `i` (1-based) of the md5 hex of column `c`, as 0..15: the crawl
    * fixtures' deterministic per-host and per-url dice. [[duckMd5Digit]]
    * is the DuckDB spelling.
    */
  private def md5Digit(c: String, i: Int): org.apache.spark.sql.Column =
    expr(s"locate(substring(md5($c), $i, 1), $hexDigits) - 1")

  private def duckMd5Digit(c: String, i: Int): String =
    s"strpos($hexDigits, substr(md5($c), $i, 1)) - 1"

  /** A url's path (group 1: from the first `/` after the authority, up to
    * the query or fragment). Both engines extract it with this one regex.
    */
  private val urlPathRegex = "^[a-z]+://[^/]+(/[^?#]*)"

  /** The source hosts, `<lower(source)>.example.com`, one row each:
    * lowercased because candidate hosts come out of canonicalizeUrl
    * lowercased, and a mixed-case source would otherwise miss its own
    * fixture rows.
    */
  private def sourceHosts(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame =
    documents(s, d)
      .select(concat(lower(col("source")), lit(".example.com")).as("host"))
      .distinct()

  /** Robots longest-match-wins decision kernel (Google robots.txt
    * semantics): over a host's rule array (structs with string `prefix`
    * and boolean `allow`), return the struct of the BEST rule matching
    * `path` — longest prefix wins, allow wins a same-length tie (boolean
    * max), NULL when no rule matches (callers default that to allowed).
    * Row-local: one array filter + one array_max over a ≤rules-sized
    * array, entirely inside codegen. Hand-case spec'd in RetrievalSpec.
    */
  private[graft] def robotsBestMatch(
      rules: org.apache.spark.sql.Column,
      path: org.apache.spark.sql.Column
  ): org.apache.spark.sql.Column =
    array_max(transform(
      filter(rules, r => path.startsWith(r("prefix"))),
      r => struct(length(r("prefix")).as("l"), r("allow").as("allow"), r("prefix").as("prefix"))))

  /** [[robotsBestMatch]] for PARSED rules carrying the two spec wildcards:
    * each rule ships its compiled regex (`rx`, from RobotsTxt.patternRegex)
    * so the match is row-local regexp_like instead of startsWith;
    * specificity stays length(prefix) over the RAW pattern (wildcards
    * count, per the spec's pattern-length rule) and the election tiebreak
    * is identical. Hand-case pinned against RobotsTxt.bestMatch in
    * RobotsTxtSpec so the Scala and Spark kernels cannot drift.
    */
  private[graft] def robotsBestMatchRx(
      rules: org.apache.spark.sql.Column,
      path: org.apache.spark.sql.Column
  ): org.apache.spark.sql.Column =
    array_max(transform(
      filter(rules, r => regexp_like(path, r("rx"))),
      r => struct(length(r("prefix")).as("l"), r("allow").as("allow"), r("prefix").as("prefix"))))

  /** The deterministic `<url>` entry for index `p` on the current `host`
    * column — the ONE entry grammar shared by the flat sitemap fixture
    * ([[sitemapEntries]]) and the sitemapindex children (q_sitemap_index),
    * so the two discovery paths advertise the same URL population and a
    * generator drift between them is impossible.
    */
  private def sitemapEntryXml(p: Int): org.apache.spark.sql.Column = {
    val seg = pmod(md5Digit("host", 4) + lit(p), lit(5)).cast("int").cast("string")
    val prioDigit = (lit(5) + pmod(lit(p) + md5Digit("host", 5), lit(5))).cast("int").cast("string")
    concat(
      lit("  <url>\n    <loc>http://"), col("host"),
      lit("/docs/"), seg, lit(s"/sub/page$p.html</loc>\n"),
      if (p % 4 == 0) lit("") else lit(s"    <lastmod>2024-01-0${1 + p % 7}</lastmod>\n"),
      if (p % 3 == 0) lit("")
      else concat(lit("    <priority>0."), prioDigit, lit("</priority>\n")),
      if (p % 2 == 0) lit("    <changefreq>weekly</changefreq>\n") else lit(""),
      lit("  </url>\n"))
  }

  /** The charset-detection cascade q_charset_detect runs and
    * CharsetDetectSpec drives over hand bytes (ONE definition, so the spec
    * cannot drift from the query): BOM sniff → structural UTF-8 validation
    * of the post-BOM payload (is_valid_utf8's full state machine — rejects
    * overlong forms, truncated sequences, stray continuation bytes) →
    * windows-1252 fallback. BOM precedes validation on purpose: UTF-16LE
    * ASCII is structurally valid UTF-8 (NULs are legal), so a
    * validation-first detector mislabels every UTF-16 document. Returns
    * struct<bom, valid_utf8, charset> over a BINARY column; all codegen'd
    * builtins, zero shuffles.
    */
  private[graft] def charsetCascade(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bom = when(hex(substring(b, 1, 3)) === "EFBBBF", lit("utf-8"))
      .when(hex(substring(b, 1, 2)).isin("FFFE", "FEFF"), lit("utf-16"))
    val payload = when(bom === "utf-8", substring(b, 4, Int.MaxValue))
      .when(bom === "utf-16", substring(b, 3, Int.MaxValue))
      .otherwise(b)
    val valid = call_function("is_valid_utf8", payload.cast("string"))
    val charset = when(bom === "utf-16",
      when(hex(substring(b, 1, 2)) === "FFFE", lit("utf-16le")).otherwise(lit("utf-16be")))
      .when(bom === "utf-8" || valid, lit("utf-8"))
      .otherwise(lit("windows-1252"))
    struct(bom.as("bom"), valid.as("valid_utf8"), charset.as("charset"))
  }

  /** The parsed sitemap ENTRY TABLE (host, url, lastmod, priority,
    * changefreq) — deterministic per-host sitemaps.org bodies through the
    * real JDK DOM parser (sources.SitemapXml), shared by q_sitemap_ingest
    * (discovery vs the frontier) and q_recrawl_schedule (lastmod vs the
    * crawl ledger) the way frontierCandidates backs the frontier family.
    * Parse cost is host-cardinality: one typed map over the source hosts.
    */
  private[graft] def sitemapEntries(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val xml = urlset(
      "<!-- synthetic sitemap fixture -->\n",
      (0 to 8).map(sitemapEntryXml) :+
        concat(
          lit("  <url>\n    <loc>http://"), col("host"),
          lit("/search?q=1&amp;x=2</loc>\n    <priority>0.9</priority>\n  </url>\n")))
    sourceHosts(s, d)
      .select(col("host"), xml.as("sitemap_xml"))
      .as[(String, String)]
      .map { case (h, x) => (h, graft.sources.SitemapXml.parse(x)) }
      .toDF("host", "entries")
      .select(col("host"), explode(col("entries")).as("e"))
      .select(
        col("host"), col("e.loc").as("url"), col("e.lastmod").as("lastmod"),
        col("e.priority").as("priority"), col("e.changefreq").as("changefreq"))
  }

  /** A sitemaps.org `<urlset>` document: the XML declaration, `preamble`,
    * then `entries` inside the namespaced envelope. Shared by the flat
    * fixture ([[sitemapEntries]]) and q_sitemap_index's child documents.
    */
  private def urlset(
      preamble: String,
      entries: Seq[org.apache.spark.sql.Column]
  ): org.apache.spark.sql.Column =
    concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" + preamble +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n") +:
        entries :+
        lit("</urlset>\n"): _*)

  /** The robots fixture's host population: every frontier host (sources +
    * the external and CDN hosts the link fixture references).
    */
  private[graft] def robotsFixtureHosts(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    sourceHosts(s, d).unionAll(Seq("ext.example.org", "cdn.example.net").toDF("host"))
  }

  /** Deterministic per-host robots.txt BODY (expects a `host` column) —
    * shared by q_robots_parse (Allow/Disallow decisions) and
    * q_politeness_parsed (Crawl-delay), so both parse the SAME document the
    * way a crawler fetches robots.txt once and reads both from it. Uses the
    * same md5-digit thresholds as q_robots_filter so the two robots queries
    * agree on which hosts carry which rules; digit 6 drives Crawl-delay
    * presence (absent ⇒ the consumer's default rate) and value.
    */
  private[graft] def robotsFixtureBody: org.apache.spark.sql.Column = {
    def line(t: String) = lit(t + "\n")
    def maybe(cond: org.apache.spark.sql.Column, t: String) =
      when(cond, lit(t + "\n")).otherwise(lit(""))
    concat(
      line("# synthetic robots fixture"),
      concat(lit("Sitemap: https://"), col("host"), lit("/sitemap.xml\n\n")),
      line("User-agent: googlebot"), line("Disallow: /"), lit("\n"),
      line("User-agent: graftbot-images"), line("Disallow: /"), lit("\n"),
      line("User-agent: graftbot"),
      line("User-agent: otherbot"),
      when(md5Digit("host", 6) < 12,
        concat(lit("Crawl-delay: "),
          (lit(1) + pmod(md5Digit("host", 6), lit(5))).cast("int").cast("string"), lit("\n")))
        .otherwise(lit("")),
      line("Allow:"),
      line("Disallow: /search"),
      maybe(md5Digit("host", 1) < 9, "Disallow: /lib"),
      maybe(md5Digit("host", 2) < 9, "Allow: /lib/p*.html$"),
      maybe(md5Digit("host", 3) < 12, "Disallow: /docs/up"),
      line("Allow: /*.js$"), lit("\n"),
      line("User-agent: *"), line("Disallow: /"))
  }

  /** q_robots_filter's per-host prefix rules `(host, rules)`: a row-local
    * ≤4-element array of `prefix`/`allow` structs (no per-rule explode).
    * Thresholds chosen against the fixture's md5 digits so every decision
    * arm is EXERCISED, not just stated: ext.example.org (digits 3,8,2)
    * gets both /lib AND /lib/p → its /lib/p*.html candidates are
    * re-allowed through the longest match; cdn.example.net (8,13,2) gets
    * /lib only → /lib.js disallowed; /docs/up splits the source hosts
    * (digits 1,13,11,1). Shared by q_robots_filter and q_crawl_e2e, so the
    * two rows cannot disagree on a verdict.
    */
  private def robotsPrefixRules(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    def rule(prefix: String, allow: Boolean, live: org.apache.spark.sql.Column) =
      struct(lit(prefix).as("prefix"), lit(allow).as("allow"), live.as("live"))
    robotsFixtureHosts(s, d).select(
      col("host"),
      filter(
        array(
          rule("/search", allow = false, lit(true)),
          rule("/lib", allow = false, md5Digit("host", 1) < 9),
          rule("/lib/p", allow = true, md5Digit("host", 2) < 9),
          rule("/docs/up", allow = false, md5Digit("host", 3) < 12)),
        r => r("live")).as("rules"))
  }

  /** Each robots fixture host's [[robotsFixtureBody]] through `parse`, as
    * `(host, <name>)`: one typed map over the host table, the way a
    * crawler parses a fetched robots.txt once per host.
    */
  private def parsedRobots[T: scala.reflect.runtime.universe.TypeTag](
      s: org.apache.spark.sql.SparkSession,
      d: String,
      name: String
  )(parse: String => T): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    robotsFixtureHosts(s, d)
      .select(col("host"), robotsFixtureBody.as("robots_txt"))
      .as[(String, String)]
      .map { case (h, txt) => (h, parse(txt)) }
      .toDF("host", name)
  }

  /** The robots decision over the frontier candidates: the per-host
    * `rules` (host, rules) BROADCAST-joined onto the candidates, each url's
    * path extracted, and `elect(rules, path)` picking the best rule —
    * [[robotsBestMatch]] or the native TextFunctions.robotsMatch. Returns
    * (host, url, n_refs, rk, matched_rule, allowed). The join is LEFT: a
    * candidate whose host has no robots entry passes as allowed (the
    * robots default; its null rules elect a null best), where an inner
    * join would silently DROP it from the fetch plan. Shared by
    * q_robots_filter, q_robots_parse and q_crawl_e2e.
    */
  private def robotsDecision(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      rules: org.apache.spark.sql.DataFrame,
      elect: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column
  ): org.apache.spark.sql.DataFrame =
    frontierCandidates(s, d, 10)
      .join(broadcast(rules), Seq("host"), "left")
      .withColumn("path", regexp_extract(col("url"), urlPathRegex, 1))
      .withColumn("best", elect(col("rules"), col("path")))
      .select(
        col("host"), col("url"), col("n_refs"), col("rk"),
        col("best.prefix").as("matched_rule"),
        coalesce(col("best.allow"), lit(true)).as("allowed"))

  /** Shared DuckDB restatement of [[frontierCandidates]] (the `r` CTE in
    * both frontier oracles): rollup + ledger filter + per-host rank.
    */
  private val duckFrontierCte: String =
    """
      |, refs AS (
      |  SELECT url, host, CAST(COUNT(*) AS BIGINT) AS n_refs
      |  FROM l GROUP BY 1, 2),
      |f AS (SELECT * FROM refs WHERE substr(md5(url), 1, 1) NOT IN ('0', '1', '2')),
      |r AS (SELECT host, url, n_refs,
      |        CAST(row_number() OVER (PARTITION BY host ORDER BY n_refs DESC, url) AS INT) AS rk
      |      FROM f)""".stripMargin

  /** DuckDB ground truth for [[extractedLinks]]: each link's raw href and
    * FINAL resolved+canonicalized URL (and its host) stated directly from
    * doc_id/source arithmetic — the oracle never re-runs extraction,
    * resolution or canonicalization, so a defect anywhere in the Spark
    * chain flips the hash.
    */
  private val duckLinkCte: String =
    """WITH l AS (
      |  SELECT doc_id, 0 AS pos,
      |    'HTTPS://Ext.Example.ORG:443/lib/x/../p' || CAST(doc_id % 7 AS VARCHAR) || '.html?utm_source=feed&q=' || CAST(doc_id % 3 AS VARCHAR) || '#frag' AS href,
      |    'https://ext.example.org/lib/p' || CAST(doc_id % 7 AS VARCHAR) || '.html?q=' || CAST(doc_id % 3 AS VARCHAR) AS url,
      |    'ext.example.org' AS host
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1,
      |    'sub/page' || CAST(doc_id % 9 AS VARCHAR) || '.html',
      |    'http://' || lower(source) || '.example.com/docs/' || CAST(doc_id % 5 AS VARCHAR) || '/sub/page' || CAST(doc_id % 9 AS VARCHAR) || '.html',
      |    lower(source) || '.example.com'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2,
      |    '../up/idx' || CAST(doc_id % 3 AS VARCHAR) || '.html',
      |    'http://' || lower(source) || '.example.com/docs/up/idx' || CAST(doc_id % 3 AS VARCHAR) || '.html',
      |    lower(source) || '.example.com'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    '/search?q=' || CAST(doc_id % 7 AS VARCHAR) || '&gclid=zz',
      |    'http://' || lower(source) || '.example.com/search?q=' || CAST(doc_id % 7 AS VARCHAR),
      |    lower(source) || '.example.com'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 4,
      |    '//cdn.example.net/lib.js',
      |    'http://cdn.example.net/lib.js',
      |    'cdn.example.net'
      |  FROM documents)""".stripMargin

  /** [[sourceHosts]] in DuckDB. */
  private val duckSourceHosts = "SELECT DISTINCT lower(source) || '.example.com' AS host FROM documents"

  /** The `hosts` CTE: [[sourceHosts]]. */
  private val duckSourceHostsCte = s"hosts AS (\n  $duckSourceHosts)"

  /** The `hosts` CTE: [[robotsFixtureHosts]]. */
  private val duckRobotsHostsCte =
    s"hosts AS (\n  $duckSourceHosts\n  UNION ALL SELECT 'ext.example.org'\n  UNION ALL SELECT 'cdn.example.net')"

  /** [[robotsPrefixRules]] as a `rules` CTE of (host, prefix, allow) rows. */
  private val duckPrefixRulesCte: String =
    s"""rules AS (
       |  SELECT host, '/search' AS prefix, FALSE AS allow FROM hosts
       |  UNION ALL
       |  SELECT host, '/lib', FALSE FROM hosts
       |  WHERE ${duckMd5Digit("host", 1)} < 9
       |  UNION ALL
       |  SELECT host, '/lib/p', TRUE FROM hosts
       |  WHERE ${duckMd5Digit("host", 2)} < 9
       |  UNION ALL
       |  SELECT host, '/docs/up', FALSE FROM hosts
       |  WHERE ${duckMd5Digit("host", 3)} < 12)""".stripMargin

  /** The robots election after [[duckFrontierCte]]: `cand` (the capped
    * frontier, each url with its path), the robots `hosts`, the given
    * `rules` CTE, and `m`, every rule whose `matches` predicate holds for
    * a candidate ranked longest prefix, then allow, then prefix (`mrk` 1
    * is the best), projecting `cols` next to `c.url`.
    */
  private def duckRobotsElection(rulesCte: String, cols: String, matches: String): String =
    s"""
       |, cand AS (
       |  SELECT host, url, n_refs, rk,
       |         regexp_extract(url, '$urlPathRegex', 1) AS path
       |  FROM r WHERE rk <= 10),
       |$duckRobotsHostsCte,
       |$rulesCte,
       |m AS (
       |  SELECT c.url, $cols,
       |    row_number() OVER (PARTITION BY c.url
       |      ORDER BY length(ru.prefix) DESC, ru.allow DESC, ru.prefix DESC) AS mrk
       |  FROM cand c JOIN rules ru
       |    ON ru.host = c.host AND $matches)""".stripMargin

  /** [[robotsDecision]] in DuckDB over [[duckRobotsElection]]. */
  private def duckRobotsDecision(rulesCte: String, matches: String): String =
    duckLinkCte + duckFrontierCte + duckRobotsElection(rulesCte, "ru.prefix, ru.allow", matches) +
      """,
        |best AS (SELECT url, prefix AS matched_rule, allow FROM m WHERE mrk = 1)
        |SELECT c.host, c.url, c.n_refs, c.rk, b.matched_rule,
        |       COALESCE(b.allow, TRUE) AS allowed
        |FROM cand c LEFT JOIN best b USING (url)
        |ORDER BY c.host, c.rk""".stripMargin

  /** The `hosts` and `ps` (entry index 0..8) CTEs the sitemap oracles
    * cross-join.
    */
  private val duckSitemapHostsCte =
    s"$duckSourceHostsCte,\nps AS (SELECT CAST(r.range AS INT) AS p FROM range(9) r),"

  /** The `url` and `lastmod` of entry `p` on `host` ([[sitemapEntryXml]]). */
  private val duckSitemapUrlLastmod: String =
    s"""    'http://' || host || '/docs/' ||
       |      CAST((${duckMd5Digit("host", 4)} + p) % 5 AS VARCHAR) ||
       |      '/sub/page' || CAST(p AS VARCHAR) || '.html' AS url,
       |    CASE WHEN p % 4 = 0 THEN NULL
       |         ELSE '2024-01-0' || CAST(1 + p % 7 AS VARCHAR) END AS lastmod""".stripMargin

  /** Every column of entry `p` on `host` ([[sitemapEntryXml]]). */
  private val duckSitemapEntry: String =
    duckSitemapUrlLastmod +
      s""",
         |    CASE WHEN p % 3 = 0 THEN NULL
         |         ELSE CAST('0.' || CAST(5 + (p + ${duckMd5Digit("host", 5)}) % 5 AS VARCHAR) AS DOUBLE)
         |         END AS priority,
         |    CASE WHEN p % 2 = 0 THEN 'weekly' ELSE NULL END AS changefreq""".stripMargin

  /** DuckDB-side marker score, kept textually in lockstep with
    * TextFunctions.markerScore.
    */
  private def duckScore(markers: Seq[String]): String = {
    val set = markers.map(m => s"'$m'").mkString(",")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN ($set)))"
  }

  private val duckLangCase: String = {
    val scores = TextFunctions.langMarkers.map { case (l, m) => l -> s"s_$l" }
    val whens = scores
      .map { case (l, s) =>
        val beats = scores.filter(_._1 != l).map { case (_, o) => s"$s >= $o" }.mkString(" AND ")
        s"WHEN $s > 0 AND $beats THEN '$l'"
      }
      .mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** The decontamination contract, defined ONCE for both the exact-join
    * and Bloom forms (and mirrored in the exact form's DuckDB oracle):
    * distinct 13-word grams over the lowercased planted-duplicate corpus,
    * hashed to FULL 64-bit xxhash64 (computed before any exchange, so the
    * membership join still shuffles 8-byte longs, but the per-doc distinct
    * counts agree with the string oracle up to genuine ~n²/2⁶⁴ collisions
    * — the shingle kernel's mod-P form would be ~n²/2·10⁹, enough to
    * eventually flip a count at scale); docs 0-19 are the benchmark set.
    * Returns (corpus-side grams, benchmark-side grams).
    */
  private def contaminationGrams(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val grams = SimilarityQueries
      .corpusWithDups(s, d)
      .select(
        col("doc_id"),
        explode(graft.functions.SimilarityFunctions.hashedShingles64(lower(col("text")), n = 13)).as("gram")
      )
    (grams.filter(col("doc_id") >= 20), grams.filter(col("doc_id") < 20).select("gram"))
  }

  /** The production decontamination probe: benchmark grams collapse into
    * one Bloom filter (bounded driver state) shipped as a plan literal;
    * the corpus side is a pure map-side BloomFilterMightContain filter —
    * no corpus shuffle except the final per-doc partial-agg count. Shared
    * by q_decontaminate_bloom's banded report (docs only) and the
    * FP-rate superset spec (per-doc flagged-gram counts).
    */
  /** The production BPE token-budget table: (doc_id, n_bpe_tokens,
    * n_ws_tokens, fertility) — what packing and mix reports key off. The
    * registered q_bpe_tokens is the banded tokenizer audit over the same
    * kernels; LlmPipelineSpec's fertility gate and QueryRegistrySpec's
    * cross-kernel consistency check consume this table.
    */
  private[graft] def bpeTokenTable(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    val bpe = TextFunctions.bpeTokenCount(col("text"))
    val ws = tokenCount(col("text"))
    documents(s, d).select(
      col("doc_id"),
      bpe.as("n_bpe_tokens"),
      ws.as("n_ws_tokens"),
      round(bpe.cast("double") / ws, 3).as("fertility")
    )
  }

  /** The production compression-ratio table: (doc_id, deflate_ratio,
    * too_repetitive, binary_like). The tail flags are deterministic on a
    * fixed zlib but deliberately NOT hash-gated (a zlib revision may move
    * borderline docs across the 0.05/0.9 cutoffs); the registered
    * q_compression_ratio is the banded audit whose claims are
    * implementation-independent DEFLATE properties.
    */
  /** The production quality-score table (doc_id, score, keep): train the
    * hashing-trick logistic classifier on a bounded deterministic sample
    * of the corpus (1024 docs — driver state O(dim), never O(corpus)),
    * then score every document with the native fused hash+dot kernel in
    * one zero-shuffle map pass. The registered q_quality_classifier wraps
    * the learning contract in the banded classifier audit for the driver
    * hash gate; ClassifierSpec's plan/kernel/stream gates consume this
    * table directly.
    */
  private[graft] def qualityScores(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    val docs = documents(s, d)
    val sample = docs
      .filter(pmod(col("doc_id"), lit(3)) < 2)
      .select(col("doc_id"), col("text"), (col("lang") === "en").as("y"))
      .orderBy("doc_id")
      .limit(1024)
      .collect()
      .map(r => (r.getString(1), r.getBoolean(2)))
      .toSeq
    val model = graft.operators.TextClassifier.train(sample)
    val score = TextFunctions.linearTextScore(col("text"), model.weights.toSeq, model.bias)
    docs.select(
      col("doc_id"),
      round(score, 6).as("score"),
      (score >= 0.5).as("keep")
    )
  }

  /** The production BPE token-stream table (doc_id, segments,
    * n_bpe_tokens): each document's space-joined symbol sequence under the
    * plan-constant merge table. Map-only, zero shuffles. The registered
    * q_bpe_segments wraps this stream's invariants in the per-doc segment
    * audit for the driver hash gate; the kernel property spec and the
    * registry consistency spec consume this table directly.
    */
  private[graft] def bpeSegmentsTable(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame =
    documents(s, d).select(
      col("doc_id"),
      TextFunctions.bpeSegments(col("text")).as("segments"),
      TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens")
    )

  /** Whitespace tokenization as an ARRAY (empties filtered) — the
    * unexploded form [[tokenIdStream]] maps over so the corpus never
    * shuffles; element-wise identical to the exploded stream
    * q_vocab_build / q_token_count count over.
    */
  private[graft] def wsTokenArray(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Token-budget chunker over an arbitrary token-array column — the
    * q_chunk_tokens rule, tokenizer-agnostic: windows of `budget` tokens
    * advancing by `stride` (budget − stride tokens of overlap), rejoined
    * with single spaces. Zero-shuffle generate+project (sequence starts →
    * posexplode → slice) — chunking stays embarrassingly parallel at any
    * corpus size. Empty token arrays keep one empty chunk (the
    * q_chunk_docs guard: greatest(n−1, 0) keeps sequence() legal). The
    * registered query feeds wsTokenArray; ChunkBpeCompositionSpec feeds
    * the SAME chunker bpeSegments arrays — the production token axis.
    */
  private[graft] def chunkTokenArray(
      docs: org.apache.spark.sql.DataFrame,
      toks: org.apache.spark.sql.Column,
      budget: Int,
      stride: Int
  ): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        col("toks"),
        posexplode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_id", "start")))
      .select(
        col("doc_id"),
        col("chunk_id"),
        slice(col("toks"), col("start") + 1, lit(budget)).as("ctoks"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        array_join(col("ctoks"), " ").as("chunk"),
        size(col("ctoks")).as("n_tokens"))

  /** Inverted-index posting-list summary per term: df, collection
    * frequency, max tf, and the deterministic top doc (highest tf, tie →
    * lowest doc_id). Two partial-agg'd shuffles — (term, doc) tf combines
    * map-side, then the term rollup carries best-doc as a lexicographic
    * max(struct(tf, -doc_id)) inside the SAME aggregate, so there is no
    * window and no second pass over the tf table.
    */
  private[graft] def invertedIndex(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(wsTokenArray(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("df"),
        sum(col("tf")).as("cf"),
        max(col("tf")).as("max_tf"),
        max(struct(col("tf"), (-col("doc_id")).as("nd"))).as("m")
      )
      .select(col("term"), col("df"), col("cf"), col("max_tf"), (-col("m.nd")).as("top_doc"))

  /** BM25 (Okapi, k1 = 1.2, b = 0.75) top-k retrieval for a FIXED term
    * query. The query being a bounded plan parameter is what shapes the
    * plan: per-term tf is a row-local size(filter(tokens)) over the
    * unexploded array — the corpus never explodes, never joins, never
    * shuffles; (N, avgdl, per-term df) collapse to ONE 1-row aggregate
    * broadcast back; matched docs filter before scoring; top-k is a
    * TakeOrderedAndProject. Scores round to 6 decimals and tie-break on
    * doc_id, so the ranking is deterministic cross-engine.
    */
  /** Tokenize `text` ONCE into a named column and append `dl` + one
    * `tf$i` count per query term, keeping every other column of `df`.
    * CollapseProject keeps the two-step projection because the array is
    * referenced several times (dl + one tf per term), so the split runs
    * once per row. Shared by bm25Rank's scorer and q_rerank's feature
    * join so the two Spark-side tokenizations can't drift — the oracle
    * side shares the rrfOracleCtes `p` CTE for the same reason.
    */
  private[graft] def withTermFeatures(
      df: org.apache.spark.sql.DataFrame,
      qterms: Seq[String]
  ): org.apache.spark.sql.DataFrame = {
    val keep = df.columns.filterNot(_ == "text").toSeq.map(col)
    df.select((keep :+ wsTokenArray(col("text")).as("toks")): _*)
      .select((keep ++ (size(col("toks")).cast("double").as("dl") +:
        qterms.zipWithIndex.map { case (t, i) =>
          size(filter(col("toks"), x => x === t)).cast("double").as(s"tf$i")
        })): _*)
  }

  private[graft] def bm25Rank(
      docs: org.apache.spark.sql.DataFrame,
      qterms: Seq[String],
      k: Int
  ): org.apache.spark.sql.DataFrame = {
    val perDoc = withTermFeatures(docs.select(col("doc_id"), col("text")), qterms)
    val statAggs =
      count(lit(1)).cast("double").as("n") +: avg(col("dl")).as("avgdl") +:
        qterms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    // Per-term contributions add in FIXED textual order (a float sum's
    // value depends on order; an agg-style sum would be partition-order
    // nondeterministic and could flip the 6-decimal rounding).
    val score = qterms.indices
      .map { i =>
        val tf = col(s"tf$i")
        val df = col(s"df$i")
        log((col("n") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) *
          tf * lit(2.2) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      }
      .reduce(_ + _)
    val matched = qterms.indices
      .map(i => when(col(s"tf$i") > 0, 1).otherwise(0))
      .reduce(_ + _)
    perDoc
      .filter(qterms.indices.map(i => col(s"tf$i") > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 6).as("score"), matched.as("n_matched"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The fixed query terms / query vector shared by the hybrid-retrieval
    * family (q_hybrid_rrf and its q_rerank second stage).
    */
  private[graft] val rrfQueryTerms = Seq("spark", "merge", "window")

  /** q_hybrid_rrf's production pipeline, factored so q_rerank can consume
    * the SAME fused candidate set (see the q_hybrid_rrf registration for
    * the full scale commentary: both arms end in TakeOrderedAndProject, so
    * everything past the two corpus scans is bounded by k, not the corpus).
    */
  private[graft] def hybridRrfFused(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25Rank(documents(s, d), rrfQueryTerms, k = 20)
      .withColumn("r_lex", row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_lex"))
    val e = embeddings(s, d)
    val qv = e.filter(col("vec_id") === 7).select(col("embedding").as("qv"))
    val sem = e
      .filter(col("vec_id") =!= 7)
      .crossJoin(broadcast(qv))
      .select(
        col("vec_id").as("doc_id"),
        graft.functions.SimilarityFunctions.cosine(col("embedding"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id"))
      .limit(20)
      .withColumn("r_sem", row_number().over(Window.orderBy(col("cos_sim").desc, col("doc_id"))))
      .select(col("doc_id"), col("r_sem"))
    lex
      .join(sem, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(60.0) + col("r_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("r_sem")), lit(0.0)),
          6).as("rrf_score"),
        col("r_lex"),
        col("r_sem"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(10)
  }

  /** Shared SQL prefix for the hybrid-retrieval oracles: the q_hybrid_rrf
    * CTE chain ending in `fused` (the RRF top-10). Factored so q_rerank's
    * oracle layers on the IDENTICAL fusion text — two copies would drift.
    */
  private[graft] val rrfOracleCtes: String =
    raw"""p AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS DOUBLE) AS dl,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'spark')) AS DOUBLE) AS tf0,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'merge')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'window')) AS DOUBLE) AS tf2
      |  FROM documents),
      |g AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
      |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |  FROM p),
      |lexall AS (
      |  SELECT doc_id,
      |    round(
      |      ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
      |      6) AS score
      |  FROM p, g
      |  WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
      |  ORDER BY score DESC, doc_id LIMIT 20),
      |lex AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS r_lex
      |  FROM lexall),
      |qv AS (
      |  SELECT ${VectorOps.Sql.dbl("embedding")} AS qv
      |  FROM embeddings WHERE vec_id = 7),
      |semall AS (
      |  SELECT vec_id AS doc_id,
      |    ${VectorOps.Sql.cosine("embedding", "qv")} AS cos_sim
      |  FROM embeddings, qv
      |  WHERE vec_id <> 7
      |  ORDER BY cos_sim DESC, doc_id LIMIT 20),
      |sem AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS INT) AS r_sem
      |  FROM semall),
      |j AS (
      |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem
      |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
      |fused AS (
      |  SELECT doc_id,
      |    round(
      |      COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + r_lex), 0)
      |      + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + r_sem), 0),
      |      6) AS rrf_score,
      |    r_lex, r_sem
      |  FROM j ORDER BY rrf_score DESC, doc_id LIMIT 10)""".stripMargin

  /** Train the top-V vocabulary (q_vocab_build's exact (count desc, token
    * asc) id assignment) and return it as a bounded driver-side list —
    * the O(V) plan parameter [[tokenIdStream]] compiles in, the
    * trainIvfCentroids / TextClassifier pattern: one distinct-token-
    * bounded agg + TakeOrderedAndProject, V rows to the driver, never
    * O(corpus) state.
    */
  private[graft] def trainWsVocab(
      s: org.apache.spark.sql.SparkSession,
      d: String,
      v: Int = 200
  ): Seq[(String, Int)] =
    documents(s, d)
      .select(explode(wsTokenArray(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(v)
      .select("token")
      .collect()
      .map(_.getString(0))
      .zipWithIndex
      .map { case (t, i) => (t, i + 1) }
      .toSeq

  /** The production token-id stream — the actual trainer input the
    * tokenize→vocab chain was building toward: each document's ordered
    * token-id sequence under a fixed vocabulary, OOV → `unkId`. The
    * vocabulary rides into the plan as ONE map literal (V entries — a
    * bounded parameter like the classifier weights), looked up per
    * element with `try_element_at` inside a single `transform` over the
    * UNEXPLODED token array: zero joins, zero shuffles, config-
    * independent under ANSI (try_element_at nulls on miss instead of
    * raising). At a vocabulary too large for a plan literal (≳10⁵
    * entries) the same stream falls back to explode + broadcast-join on
    * the V-row vocab + ordered re-aggregation — the corpus side still
    * never shuffles for the lookup itself. Ids egress comma-joined (the
    * pcaProjections array convention) so the stream is hash-comparable
    * across engines.
    */
  private[graft] def tokenIdStream(
      docs: org.apache.spark.sql.DataFrame,
      textCol: org.apache.spark.sql.Column,
      vocab: Seq[(String, Int)],
      unkId: Int = 0
  ): org.apache.spark.sql.DataFrame = {
    val vm = typedLit(vocab.toMap)
    docs
      .withColumn("__ids", transform(wsTokenArray(textCol), t => coalesce(try_element_at(vm, t), lit(unkId))))
      .select(
        col("doc_id"),
        size(col("__ids")).cast("long").as("n_tokens"),
        size(filter(col("__ids"), i => i === unkId)).cast("long").as("n_oov"),
        array_join(col("__ids"), ",").as("ids")
      )
  }

  private[graft] def compressionRatioTable(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    val r = TextFunctions.deflateRatio(col("text"))
    documents(s, d).select(
      col("doc_id"),
      round(r, 4).as("deflate_ratio"),
      (r < 0.05).as("too_repetitive"),
      (r > 0.9).as("binary_like")
    )
  }

  private[graft] def bloomFlaggedGrams(
      s: org.apache.spark.sql.SparkSession,
      d: String
  ): org.apache.spark.sql.DataFrame = {
    val (corpus, bench) = contaminationGrams(s, d)
    val bf = bench.stat.bloomFilter("gram", expectedNumItems = 20000L, fpp = 0.001)
    val bytes = {
      val baos = new java.io.ByteArrayOutputStream()
      bf.writeTo(baos)
      baos.toByteArray
    }
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
    val mightContain = toCol(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        toExpr(lit(bytes)),
        toExpr(col("gram"))
      )
    )
    corpus
      .filter(mightContain)
      .groupBy("doc_id")
      .agg(countDistinct(col("gram")).as("n_flagged_grams"))
  }

  /** The deterministic train/val/test assignment (md5 2-hex prefix on a
    * salted doc_id: < 'cc' ≈ 80% train, < 'e6' ≈ 10% val, else test),
    * defined ONCE for q_train_test_split and the cross-split leakage
    * check, with [[splitAssignSql]] its textual DuckDB twin.
    */
  private val splitAssign: org.apache.spark.sql.Column = {
    val h = substring(md5(concat(col("doc_id").cast("string"), lit("_split"))), 1, 2)
    when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
  }

  private val splitAssignSql: String =
    """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '_split'), 1, 2) < 'cc' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || '_split'), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END""".stripMargin

  val all: Seq[Q] = Seq(
    // Token counting: whitespace + BPE-ish regex pre-tokenizer.
    Q(
      "q_token_count",
      (s, d) =>
        documents(s, d).select(
          col("doc_id"),
          tokenCount(col("text")).as("n_ws_tokens"),
          regexTokenCount(col("text")).as("n_re_tokens")
        ),
      Some("""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_re_tokens
             |FROM documents""".stripMargin)
    ),

    // Quality scoring: length/punct/stopword ratios + keep decision.
    Q(
      "q_text_quality",
      (s, d) => {
        val alpha = alphaRatio(col("text"))
        val stop = stopwordRatio(col("text"))
        documents(s, d).select(
          col("doc_id"),
          alpha.as("alpha_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          stop.as("stopword_ratio"),
          (alpha > 0.7 && stop >= 0.02).as("quality_ok")
        )
      },
      Some("""SELECT doc_id,
             |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
             |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
             |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             |    / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio,
             |  (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) > 0.7
             |   AND CAST(len(list_filter(string_split_regex(lower(text), '\s+'), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             |    / len(string_split_regex(trim(text), '\s+')) >= 0.02) AS quality_ok
             |FROM documents""".stripMargin)
    ),

    // Gopher-style repetition filters: the share of the most frequent word
    // and the duplicate-word fraction per document — the standard
    // pre-training repetition signals (a doc dominated by one token or by
    // repeats is boilerplate/spam). Per-document word stats are ROW-LOCAL,
    // so this is one compiled kernel pass per row inside the scan's
    // codegen stage (native WordRepStats) — zero shuffles, no ×n_words
    // explode blowup; the oracle computes the same stats the relational
    // way. Threshold follows the Gopher paper's repetition rules
    // (most-common-word share ≤ 0.2, tuned to the synthetic vocabulary).
    Q(
      "q_repetition_filter",
      (s, d) =>
        documents(s, d)
          .select(col("doc_id"), wordRepStats(col("text")).as("r"))
          .select(
            col("doc_id"),
            element_at(col("r"), 1).as("top_word_share"),
            element_at(col("r"), 2).as("dup_word_frac")
          )
          .withColumn("repetition_ok", col("top_word_share") <= 0.2),
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
             |  FROM documents),
             |tf AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(max(c) AS DOUBLE) / sum(c) AS top_word_share,
             |  CAST(sum(c) - COUNT(*) AS DOUBLE) / sum(c) AS dup_word_frac,
             |  (CAST(max(c) AS DOUBLE) / sum(c)) <= 0.2 AS repetition_ok
             |FROM tf GROUP BY doc_id""".stripMargin)
    ),

    // Gopher document-level quality rules (Rae et al. 2021, App. A1.1 —
    // the published composite filter most pretraining pipelines start
    // from): word count in [50, 100k], mean word length in [3, 10],
    // symbol-to-word ratio (# and …) ≤ 0.1, ≥ 80% of words alphabetic,
    // ≥ 2 distinct Gopher stop words present. Complements the existing
    // signals (q_text_quality's char ratios, q_repetition_filter's
    // Gopher REPETITION rules, q_lm_quality's LM loss) with the rules
    // none of them carry: the count bounds, mean word length, and the
    // distinct-stopword floor. On this fixture the symbol and alpha
    // rules are degenerate (word-soup text: 0 symbols, all-alpha words —
    // the q_dq_checks "no failing rows here" stance); word count and the
    // stopword floor genuinely split the corpus. Line-level Gopher rules
    // (bullet/ellipsis line ratios) belong to the post-extraction layer
    // q_html_extract feeds. Scale shape: entirely ROW-LOCAL — one
    // codegen pass inside the scan stage (split once into a named
    // column, every rule an array/string builtin over it), zero
    // shuffles; the output sort is presentation-only.
    Q(
      "q_gopher_quality",
      (s, d) => {
        // The paper's stop set with 'have' swapped for 'a' — the fixture's
        // word-soup vocabulary carries exactly two function words ('the',
        // 'a'), so the untuned set would max out at 1 and the ≥2 floor
        // would reject EVERY document (measured) — the q_repetition_filter
        // "tuned to the synthetic vocabulary" convention.
        val stops = Seq("the", "be", "to", "of", "and", "that", "a", "with")
        val withWs = documents(s, d).select(
          col("doc_id"),
          col("text"),
          filter(split(lower(trim(col("text"))), "\\s+"), w => length(w) > 0).as("ws"))
        val nWords = size(col("ws"))
        // Zero-word guard (r14 advice): an empty/whitespace-only document
        // would divide by zero, where Spark yields NaN and DuckDB's
        // behavior differs — nullif keeps every ratio NULL on BOTH engines
        // (gopher_ok still lands false through the n_words conjunct, since
        // FALSE AND NULL = FALSE in both).
        val denom = nullif(nWords.cast("double"), lit(0.0))
        val meanLen = round(
          aggregate(col("ws"), lit(0L), (acc, w) => acc + length(w)).cast("double") / denom, 6)
        val alphaRatio = round(
          size(filter(col("ws"), w => w.rlike("[a-z]"))).cast("double") / denom, 6)
        val nHash = length(col("text")) - length(translate(col("text"), "#", ""))
        val nEllipsis =
          (length(col("text")) - length(expr("replace(text, '...', '')"))).cast("double") / lit(3.0)
        val symbolRatio = round((nHash.cast("double") + nEllipsis) / denom, 6)
        val nStop = stops
          .map(w => when(array_contains(col("ws"), w), 1).otherwise(0))
          .reduce(_ + _)
        withWs
          .select(
            col("doc_id"),
            nWords.as("n_words"),
            meanLen.as("mean_word_len"),
            symbolRatio.as("symbol_ratio"),
            alphaRatio.as("alpha_word_ratio"),
            nStop.as("n_stop_present"))
          .withColumn(
            "gopher_ok",
            col("n_words").between(50, 100000) &&
              col("mean_word_len").between(3.0, 10.0) &&
              col("symbol_ratio") <= 0.1 &&
              col("alpha_word_ratio") >= 0.8 &&
              col("n_stop_present") >= 2)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, text,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS ws
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CAST(len(ws) AS INT) AS n_words,
             |    round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
             |          / NULLIF(len(ws), 0), 6) AS mean_word_len,
             |    round((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
             |           + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3.0)
             |          / NULLIF(len(ws), 0), 6) AS symbol_ratio,
             |    round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
             |          / NULLIF(len(ws), 0), 6) AS alpha_word_ratio,
             |    CAST(CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'a') THEN 1 ELSE 0 END
             |       + CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END AS INT) AS n_stop_present
             |  FROM w)
             |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
             |  n_stop_present,
             |  (n_words BETWEEN 50 AND 100000
             |   AND mean_word_len BETWEEN 3.0 AND 10.0
             |   AND symbol_ratio <= 0.1
             |   AND alpha_word_ratio >= 0.8
             |   AND n_stop_present >= 2) AS gopher_ok
             |FROM s ORDER BY doc_id""".stripMargin)
    ),

    // Benchmark decontamination: flag corpus documents sharing any 13-word
    // gram with a benchmark set (docs 0-19 stand in for the eval set; in
    // production the benchmark side is a provided table) — the GPT-3-style
    // 13-gram overlap rule. Grams come from the shingle kernel (n = 13):
    // one compiled pass per row, already deduplicated, xxhash64'd BEFORE
    // the exchange so the membership join shuffles 8-byte longs instead
    // of ~100-byte gram strings. Distinct-gram counts agree with the
    // string oracle up to genuine 64-bit collisions (~n²/2⁶⁴). Runs over the
    // planted-duplicate corpus so the operator demonstrably catches the
    // truncated near-copies of the benchmark docs (the exact leak pattern
    // decontamination exists for) — and the oracle replicates the
    // planting, so the whole path stays hash-checked.
    Q(
      "q_decontaminate",
      (s, d) => {
        val (corpus, bench) = contaminationGrams(s, d)
        corpus
          .join(bench.distinct(), "gram")
          .groupBy("doc_id")
          .agg(countDistinct(col("gram")).as("n_contaminated_grams"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH ${SimilarityQueries.corpusWithDupsSql()},
             |w AS (
             |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
             |g AS (
             |  SELECT doc_id, array_to_string(w[i:i+12], ' ') AS gram
             |  FROM w, unnest(range(1, len(w) - 11)) AS t(i)
             |  WHERE len(w) >= 13),
             |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
             |SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams
             |FROM g JOIN b USING (gram) WHERE g.doc_id >= 20
             |GROUP BY g.doc_id""".stripMargin)
    ),

    // Decontamination, the broadcast-membership form: at 100 TB the corpus
    // side should NEVER shuffle for a membership probe against a small
    // benchmark set — eval sets are MBs while the corpus is the 100 TB.
    // The benchmark grams aggregate into one Bloom filter (distributed
    // treeAggregate via df.stat.bloomFilter; ~36 KB here, a few MB for
    // real eval suites — bounded driver state, same contract as the IVF
    // centroids), which ships to executors as a plan literal; membership
    // is Spark's codegen'd BloomFilterMightContain over the 8-byte gram
    // hashes, a pure map-side filter. The only shuffle left is the final
    // per-doc count (map-side partial agg). Probabilistic: zero false
    // NEGATIVES by construction (every truly contaminated gram is
    // flagged) with fpp 0.1% false positives — the safe direction for
    // decontamination (overscrub, never leak). The registered query is a
    // banded REPORT (the q_group_quantiles_approx pattern): the exact
    // overlap rows (cross-engine hash-checked, same CTE as
    // q_decontaminate) plus bloom_caught — the no-false-negative claim
    // per contaminated doc, which the oracle states as TRUE; a bloom
    // MISSING a truly contaminated doc flips the flag and fails the hash
    // gate. The exact join rides along as the price of the gate only —
    // the production probe is [[bloomFlaggedGrams]]'s map-side filter
    // alone, and the FP-rate side stays gated by the superset spec.
    Q(
      "q_decontaminate_bloom",
      (s, d) => {
        val (corpus, bench) = contaminationGrams(s, d)
        corpus
          .join(bench.distinct(), "gram")
          .groupBy("doc_id")
          .agg(countDistinct(col("gram")).as("n_contaminated_grams"))
          .join(
            bloomFlaggedGrams(s, d).select(col("doc_id"), lit(true).as("bloom_caught")),
            Seq("doc_id"),
            "left")
          .select(
            col("doc_id"),
            col("n_contaminated_grams"),
            coalesce(col("bloom_caught"), lit(false)).as("bloom_caught"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH ${SimilarityQueries.corpusWithDupsSql()},
             |w AS (
             |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM corpus),
             |g AS (
             |  SELECT doc_id, array_to_string(w[i:i+12], ' ') AS gram
             |  FROM w, unnest(range(1, len(w) - 11)) AS t(i)
             |  WHERE len(w) >= 13),
             |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20)
             |SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams,
             |  TRUE AS bloom_caught
             |FROM g JOIN b USING (gram) WHERE g.doc_id >= 20
             |GROUP BY g.doc_id""".stripMargin)
    ),

    // Character-level exact-substring decontamination — the stricter sibling
    // of the 13-gram rule: flag corpus docs sharing ANY 32-character
    // substring with the benchmark set, catching verbatim leaks that word
    // tokenization misses (punctuation/whitespace variants, mid-word
    // truncations). Device: the charWindowHashes64 kernel emits every
    // stride-1 window as a Mersenne-61 rolling hash — O(len) per row
    // TOTAL, already distinct per doc — so the corpus-side explode is
    // map-side 8-byte longs, the benchmark side collapses to a DISTINCT
    // membership set, and the join probes one build row per gram (no
    // multiplicity blowup). count(*) suffices post-join because both
    // sides are distinct by construction. At 100 TB the same Bloom form
    // as q_decontaminate_bloom applies unchanged (the corpus never
    // shuffles); the suffix-array construction (Lee et al.'s dedup tool)
    // finds arbitrary-length matches but needs a global sort of every
    // suffix — the fixed-window hash probe is the Spark-native trade.
    // Oracle replicates with string substr windows; hash collisions are
    // the kernel's documented ≤ w/2⁶¹ per pair.
    Q(
      "q_decontaminate_chars",
      (s, d) => {
        val wins = SimilarityQueries
          .corpusWithDups(s, d)
          .select(
            col("doc_id"),
            explode(graft.functions.SimilarityFunctions.charWindowHashes64(col("text"), w = 32)).as("win")
          )
        wins
          .filter(col("doc_id") >= 20)
          .join(wins.filter(col("doc_id") < 20).select("win").distinct(), "win")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_contaminated_windows"))
          .orderBy("doc_id")
      },
      Some(raw"""WITH ${SimilarityQueries.corpusWithDupsSql()},
             |w AS (
             |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 32) AS win
             |  FROM corpus, unnest(range(1, length(text) - 30)) AS t(i)
             |  WHERE length(text) >= 32),
             |b AS (SELECT DISTINCT win FROM w WHERE doc_id < 20)
             |SELECT w.doc_id, COUNT(*) AS n_contaminated_windows
             |FROM w JOIN b USING (win)
             |WHERE w.doc_id >= 20
             |GROUP BY w.doc_id
             |ORDER BY doc_id""".stripMargin)
    ),

    // Canonical text normalization — the cleanup pass run before any
    // hashing/shingling so composed and decomposed Unicode spellings (and
    // ragged whitespace) dedup and tokenize identically. One compiled
    // kernel call per row (NFC with an isNormalized fast path, whitespace
    // collapse, trim); zero shuffles. Oracled against DuckDB's
    // nfc_normalize + regexp_replace over the same rows.
    Q(
      "q_text_normalize",
      (s, d) =>
        documents(s, d).select(
          col("doc_id"),
          TextFunctions.normalizeText(col("text")).as("norm_text")
        ),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(nfc_normalize(text), '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
             |FROM documents""".stripMargin)
    ),

    // Character-entropy junk filter: Shannon entropy (nats) of each doc's
    // code-point distribution — the cheap detector for binary blobs,
    // base64/hex dumps, and single-character spam that survives word-level
    // quality gates (natural language sits ~2.5-3.2 nats; junk sits far
    // outside either way). One compiled kernel pass per row inside the
    // scan's codegen stage, zero shuffles — same shape as
    // q_repetition_filter. Rounded to 3 decimals so the engines' float
    // summation order can't flip the driver hash; the keep band follows
    // the C4/Gopher practice of two-sided thresholds.
    Q(
      "q_char_entropy",
      (s, d) =>
        documents(s, d)
          .select(
            col("doc_id"),
            round(TextFunctions.charEntropy(col("text")), 3).as("char_entropy")
          )
          .withColumn("entropy_ok", col("char_entropy") >= 2.0 && col("char_entropy") <= 4.5),
      Some("""WITH c AS (
             |  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch FROM documents),
             |f AS (SELECT doc_id, ch, COUNT(*) AS c FROM c WHERE ch <> '' GROUP BY 1, 2),
             |t AS (SELECT doc_id, SUM(c) AS n FROM f GROUP BY 1)
             |SELECT f.doc_id,
             |  round(-SUM((c * 1.0 / n) * ln(c * 1.0 / n)), 3) AS char_entropy,
             |  round(-SUM((c * 1.0 / n) * ln(c * 1.0 / n)), 3) BETWEEN 2.0 AND 4.5 AS entropy_ok
             |FROM f JOIN t USING (doc_id)
             |GROUP BY f.doc_id""".stripMargin)
    ),

    // Language ID via marker-word argmax (first-listed wins ties; 'und' if none).
    Q(
      "q_lang_id",
      (s, d) =>
        documents(s, d).select(
          col("doc_id"),
          col("lang"),
          langId(col("text")).as("predicted_lang")
        ),
      Some {
        val scoreCols = TextFunctions.langMarkers
          .map { case (l, m) => s"${duckScore(m)} AS s_$l" }
          .mkString(",\n    ")
        s"""WITH scored AS (
           |  SELECT doc_id, lang,
           |    $scoreCols
           |  FROM documents)
           |SELECT doc_id, lang, $duckLangCase AS predicted_lang
           |FROM scored""".stripMargin
      }
    ),

    // LEARNED language ID (r16 — q_lang_id was the last rule-based
    // classifier slot; this applies the q_rerank_learned /
    // q_quality_classifier honesty pattern to it): four one-vs-rest
    // hashing-trick logistic heads (TextClassifier.train — bounded driver
    // state, 4×4096 weight doubles) trained on the planted multilingual
    // corpus, language = argmax over head scores (sigmoid is strictly
    // monotone, so sigmoid-argmax == logit-argmax; first-listed wins
    // ties, the q_lang_id convention). The driver corpus's synthetic
    // `lang` labels carry no text signal, so the learning claims ride
    // banded flags gated on the PLANTED corpus — holdout accuracy,
    // loss-decreases, bit-determinism of two trainings — while the
    // production scan's claims (every doc scored by all four heads in one
    // codegen pass, argmax lands in the language set, scores in [0,1])
    // are engine-checked counts. n_docs is the exact cross-engine anchor.
    // Serving is four native LinearTextScore kernels fused into ONE map
    // pass over the scan — zero shuffles at 100 TB, the q_lang_id shape
    // with learned weights in place of marker lists.
    Q(
      "q_lang_id_learned",
      (s, d) => {
        import graft.operators.TextClassifier
        val planted = TextClassifier.plantedLangCorpus
        val langs = TextClassifier.plantedLangs
        val trainSet = planted.take(300)
        val holdout = planted.drop(300)
        def heads(sample: Seq[(String, String)]) =
          langs.map(l => l -> TextClassifier.train(sample.map { case (t, y) => (t, y == l) }))
        val h1 = heads(trainSet)
        val h2 = heads(trainSet)
        def predict(t: String): String = h1.maxBy { case (_, m) => m.score(t) }._1
        val acc = holdout.count { case (t, y) => predict(t) == y }.toDouble / holdout.size
        val deterministic = h1.zip(h2).forall { case ((_, a), (_, b)) =>
          a.bias == b.bias && java.util.Arrays.equals(a.weights, b.weights)
        }
        val enTrain = trainSet.map { case (t, y) => (t, y == langs.head) }
        val l1 = TextClassifier.logLoss(TextClassifier.train(enTrain, epochs = 1), enTrain)
        val l30 = TextClassifier.logLoss(h1.head._2, enTrain)
        val scoreCols = h1.map { case (l, m) =>
          TextFunctions.linearTextScore(col("text"), m.weights.toIndexedSeq, m.bias).as(s"s_$l")
        }
        val best = greatest(langs.map(l => col(s"s_$l")): _*)
        documents(s, d)
          .select(col("doc_id") +: scoreCols: _*)
          .withColumn("best", best)
          .withColumn(
            "predicted_lang",
            langs.tail.foldLeft(when(col(s"s_${langs.head}") === col("best"), lit(langs.head))) {
              (c, l) => c.when(col(s"s_$l") === col("best"), lit(l))
            }.otherwise(lit("und")))
          .agg(
            count(lit(1)).as("n_scored"),
            sum(when(col("predicted_lang").isin(langs: _*), 0L).otherwise(1L)).as("n_bad_pred"),
            sum(when(col("best") >= 0.0 && col("best") <= 1.0, 0L).otherwise(1L)).as("n_oor"))
          .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("n_docs"))))
          .select(
            col("n_docs"),
            lit(400).as("n_planted"),
            lit(acc >= 0.95).as("holdout_accuracy_band"),
            lit(l30 < l1).as("loss_decreases_band"),
            lit(deterministic).as("determinism_band"),
            (col("n_scored") === col("n_docs") && col("n_oor") === 0L).as("scores_in_range_band"),
            (col("n_bad_pred") === 0L).as("argmax_in_langset_band"))
      },
      Some("""SELECT COUNT(*) AS n_docs, 400 AS n_planted,
             |  TRUE AS holdout_accuracy_band, TRUE AS loss_decreases_band,
             |  TRUE AS determinism_band, TRUE AS scores_in_range_band,
             |  TRUE AS argmax_in_langset_band
             |FROM documents""".stripMargin)
    ),

    // TF-IDF top terms per document (search/feature-extraction staple).
    // Two partial-agg'd shuffles (doc×term, then term) + a shuffle join on
    // term; N enters as a 1-row aggregate broadcast-cross-joined into the
    // plan (single Spark job — an eager docs.count() would run a separate
    // job per invocation). ln() is IEEE-identical across engines, and ties
    // rank deterministically by term, so the oracle hash-matches the
    // doubles.
    Q(
      "q_tfidf_top_terms",
      (s, d) => {
        val docs = documents(s, d)
        val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val terms = docs.select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))
        tf.join(df, "term")
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("term"), (col("tf") * log(col("n_docs") / col("df"))).as("tfidf"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("doc_id", "term", "tfidf", "rn")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents)
             |SELECT doc_id, term, tfidf, rn FROM (
             |  SELECT tf.doc_id, tf.term,
             |    tf.tf * ln((SELECT n FROM n) / (1.0 * df.df)) AS tfidf,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |      ORDER BY tf.tf * ln((SELECT n FROM n) / (1.0 * df.df)) DESC, tf.term) AS rn
             |  FROM tf JOIN df USING (term)) x
             |WHERE rn <= 3""".stripMargin)
    ),

    // PII redaction: email/phone patterns replaced with typed placeholder
    // tokens — the standard pre-training scrub. Pure codegen'd
    // regexp_replace (single pass per pattern); patterns chosen within the
    // RE2 ∩ java.util.regex dialect so the DuckDB oracle runs identically.
    // A synthetic contact line is appended so the redaction provably fires.
    Q(
      "q_redact_pii",
      (s, d) => {
        val withPii = concat(
          col("text"),
          lit(" contact: user"),
          col("doc_id"),
          lit("@example.com or 555-867-530"),
          (col("doc_id") % 10).cast("string")
        )
        val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        documents(s, d).select(
          col("doc_id"),
          regexp_replace(regexp_replace(withPii, email, "<EMAIL>"), phone, "<PHONE>")
            .as("redacted")
        )
      },
      Some("""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-867-530'
             |           || CAST(doc_id % 10 AS VARCHAR),
             |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
             |FROM documents""".stripMargin)
    ),

    // Rolling-hash fingerprint (portable integer fold mod 1e9+7).
    Q(
      "q_doc_fingerprint",
      (s, d) =>
        documents(s, d).select(col("doc_id"), docFingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split_regex(trim(text), '\s+'),
             |                     w -> CAST(length(w) * 31 + ascii(substr(w,1,1)) AS BIGINT))),
             |     (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
             |FROM documents""".stripMargin)
    ),

    // Per-source document cap — the "at most N pages per domain" rule every
    // pretraining mix applies so one boilerplate-heavy domain can't dominate
    // the corpus. Deterministic keep-order (lowest doc_id wins) makes the
    // cut reproducible. TWO-STAGE plan: a single global rank-then-filter
    // window is a hot-key scale-killer — one shuffle on `source` sends a
    // mega-domain's ENTIRE row set to one reducer, and AQE cannot split a
    // window partition. The pre-cap is sound for row_number ordered by
    // doc_id: a row with ≥N smaller-doc_id same-source rows in its own
    // INPUT partition can never reach the global top-N, so stage 1 keeps
    // only each partition's N smallest doc_ids per source — a shuffle-FREE
    // mapPartitions top-N (bounded heaps: N × distinct sources per
    // partition). The global window then shuffles ≤ N rows per input
    // partition per source — the hot key sees N×numPartitions rows instead
    // of its whole corpus. Output is identical to the one-stage plan
    // (stage 1 only drops provable non-members), so the oracle stays the
    // plain windowed SQL.
    Q(
      "q_cap_per_source",
      (s, d) => {
        import s.implicits._
        val n = 10
        // Map-side pre-cap via the SHARED bounded-heap helper (the same
        // one q_top_n_per_group and q_embed_outliers use — one eviction/
        // ordering contract, one property spec): smallest-doc_id wins.
        val pre = graft.operators.EtlOps
          .topKPerKey(
            documents(s, d)
              .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
              .as[(Long, String, String, Long)],
            n)(_._2)(Ordering.by(_._1))
          .toDF("doc_id", "source", "lang", "n_chars")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
        pre
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= n)
          .select("doc_id", "source", "lang", "n_chars")
      },
      Some("""SELECT doc_id, source, lang, n_chars FROM (
             |  SELECT doc_id, source, lang, n_chars,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
             |  FROM documents) t
             |WHERE rk <= 10""".stripMargin)
    ),

    // URL canonicalization — the ingest-hygiene step BETWEEN fetch and
    // q_cap_per_source's domain capping: without it `HTTP://WWW.X.COM:80/
    // a/../b?utm_source=f` and `http://x.com/b` count as different pages
    // and the frontier over-crawls every site. UrlFunctions.canonicalizeUrl
    // is ONE native kernel call (SketchImpl.canonicalizeUrl — the builtin
    // regexp tree it replaced survives as canonicalizeUrlBuiltins with a
    // byte-parity spec, and the oracle still restates those regex steps
    // textually): fragment dropped, scheme/host lowercased,
    // www. and default ports stripped, dot segments resolved, %7E decoded,
    // tracking params (utm_*/ref/fbclid/gclid/mc_eid) removed order-
    // preserving. One map pass, zero shuffles at any corpus size. The
    // corpus has no URL column, so (the q_redact_pii pattern) each doc
    // derives a deterministic MESSY url — three shapes covering case/port/
    // dot-segment/tracking/fragment dirt — and the oracle rebuilds and
    // canonicalizes it with the same regex steps (its fixture resolves
    // fully within two ../ passes; the library's extra passes are no-ops
    // there, so the engines agree exactly).
    Q(
      "q_url_canonical",
      (s, d) => {
        import graft.functions.UrlFunctions
        val url = messyUrl
        documents(s, d).select(
          col("doc_id"),
          url.as("url"),
          UrlFunctions.canonicalizeUrl(url).as("canonical_url"),
          UrlFunctions.urlHost(url).as("host")
        )
      },
      Some(duckCanonicalCte +
        """
          |SELECT doc_id, url,
          |  CASE WHEN scheme = '' THEN url
          |       ELSE scheme || '://' || host || cpath ||
          |            CASE WHEN cq = '' THEN '' ELSE '?' || cq END END AS canonical_url,
          |  host
          |FROM qp""".stripMargin)
    ),

    // Canonical-URL dedup — the composition the two pieces above exist
    // for: after canonicalization, pages that differed only by chrome
    // (case, default port, tracking params, dot segments, fragments)
    // collapse to ONE canonical key; keep the lowest doc_id as the
    // deterministic survivor and count the collapsed group. Scale shape:
    // the canonicalize pass is the same zero-shuffle map as
    // q_url_canonical, then ONE partial-agg'd groupBy on the canonical
    // string — min(doc_id)/count combine map-side, so a mega-duplicated
    // URL (the 100 TB frontier's landing pages) collapses to one row per
    // input partition before the exchange; no window, no hot reducer.
    // Exact oracle end-to-end: DuckDB re-canonicalizes the fixture
    // step-for-step and re-derives the survivor and group size.
    Q(
      "q_url_dedup",
      (s, d) => {
        import graft.functions.UrlFunctions
        documents(s, d)
          .select(col("doc_id"), UrlFunctions.canonicalizeUrl(messyUrl).as("canonical_url"))
          .groupBy("canonical_url")
          .agg(
            min(col("doc_id")).as("keep_doc_id"),
            count(lit(1)).as("n_pages"))
          .orderBy("canonical_url")
      },
      Some(duckCanonicalCte +
        """
          |, canon AS (
          |  SELECT doc_id,
          |    CASE WHEN scheme = '' THEN url
          |         ELSE scheme || '://' || host || cpath ||
          |              CASE WHEN cq = '' THEN '' ELSE '?' || cq END END AS canonical_url
          |  FROM qp)
          |SELECT canonical_url, min(doc_id) AS keep_doc_id, COUNT(*) AS n_pages
          |FROM canon GROUP BY 1 ORDER BY 1""".stripMargin)
    ),

    // Link extraction + reference resolution — the step that turns a
    // fetched page into frontier candidates: harvest hrefs from real
    // markup, resolve each against the page's base URL (RFC 3986 §5:
    // absolute / protocol-relative / root-relative / parent-relative
    // shapes), then canonicalize. The corpus has no HTML column, so (the
    // q_html_extract pattern) each doc renders a deterministic page whose
    // five links exercise every resolution case plus port/case/dot/
    // tracking dirt, and the REAL extractor+resolver+canonicalizer chain
    // runs over real markup on the Spark side while the oracle states the
    // GROUND-TRUTH href and final URL per link directly from doc_id/source
    // arithmetic — a missed href, a mis-spliced base directory, an
    // unresolved '..' or a surviving tracking param all flip the hash.
    // Plan: regexp_extract_all + posexplode + codegen'd string builtins —
    // one Generate, ZERO exchanges; a million pages extract map-only
    // (plan-pinned). Fragment-only hrefs (same-document refs) are
    // filtered before resolution, keeping their array position visible in
    // `pos` for the links that survive.
    Q(
      "q_link_extract",
      (s, d) => extractedLinks(s, d).orderBy("doc_id", "pos"),
      Some(duckLinkCte +
        """
          |SELECT doc_id, pos, href, url FROM l ORDER BY doc_id, pos""".stripMargin)
    ),

    // Crawl-frontier scheduling — the composition the URL family builds
    // toward: extracted links collapse to one row per canonical URL with
    // a referrer count, already-crawled URLs drop out (deterministic
    // md5-prefix membership standing in for the crawl ledger — the
    // q_deterministic_sample device), and each host keeps its top-10
    // candidates by (referrer count, url) — in-degree-prioritized,
    // politeness-capped fetch scheduling. Scale shape: the URL rollup is
    // ONE partial-agg'd groupBy (a mega-referenced URL collapses map-side
    // per input partition); host extraction runs on the POST-agg distinct
    // set, not the raw link stream; and the per-host cap is the
    // q_cap_per_source two-stage shape — a shuffle-free bounded-heap
    // pre-cap, then a window over ≤ 10 rows per host per input partition
    // — so a mega-host (the 100 TB frontier's top domain) never funnels
    // its whole URL set through one reducer.
    Q(
      "q_url_frontier",
      (s, d) => frontierCandidates(s, d, 10).orderBy("host", "rk"),
      Some(duckLinkCte + duckFrontierCte +
        """
          |SELECT host, url, n_refs, rk FROM r WHERE rk <= 10 ORDER BY host, rk""".stripMargin)
    ),

    // Politeness-scheduled fetch plan — the fetch-RATE dimension the
    // frontier's per-host cap doesn't model (the r12 review's optional
    // item): each host carries a crawl-delay (robots.txt Crawl-delay
    // stand-in, deterministic from the host name so both engines state
    // it), the k-th candidate on a host fetches at offset (rk−1)·delay —
    // sequential per-host fetching at the polite rate, hosts in parallel
    // — and candidates bucket into 10-second scheduler waves with a
    // 30-second first-window flag (the "what can this crawl tick
    // actually reach" planning question). Scale shape: pure projection
    // arithmetic on the already-capped frontier (≤ 10 rows per host) —
    // no shuffle beyond frontierCandidates' own; at 100 TB the politeness
    // plan costs exactly the frontier plus a map.
    Q(
      "q_frontier_politeness",
      (s, d) => {
        val cand = frontierCandidates(s, d, 10)
          .withColumn("delay_s", (lit(1) + length(col("host")) % 5).cast("int"))
          .withColumn("fetch_offset_s", ((col("rk") - 1) * col("delay_s")).cast("int"))
        cand
          .select(
            col("host"),
            col("url"),
            col("rk"),
            col("delay_s"),
            col("fetch_offset_s"),
            floor(col("fetch_offset_s") / 10.0).cast("int").as("wave"),
            (col("fetch_offset_s") < 30).as("in_first_window"))
          .orderBy("host", "rk")
      },
      Some(duckLinkCte + duckFrontierCte +
        """
          |, c AS (
          |  SELECT host, url, rk,
          |         CAST(1 + length(host) % 5 AS INT) AS delay_s
          |  FROM r WHERE rk <= 10),
          |p AS (
          |  SELECT host, url, rk, delay_s,
          |         CAST((rk - 1) * delay_s AS INT) AS fetch_offset_s
          |  FROM c)
          |SELECT host, url, rk, delay_s, fetch_offset_s,
          |       CAST(floor(fetch_offset_s / 10.0) AS INT) AS wave,
          |       fetch_offset_s < 30 AS in_first_window
          |FROM p ORDER BY host, rk""".stripMargin)
    ),

    // Anchor-text aggregation — the inbound-link description signal web
    // curation ranks and classifies targets by (the anchor text of links
    // INTO a page describes that page better than the page describes
    // itself — the classic web-search relevance prior): extract each
    // link's anchor text alongside its href (the REAL tag parse, not the
    // href-only extraction), resolve+canonicalize to the target URL, and
    // roll up per target: total inbound refs, distinct anchor phrases,
    // the dominant anchor and its share. Scale shape: one Generate over
    // the page scan (full <a> tags, then two row-local regexp pulls per
    // tag), then TWO partial-agg'd groupBys — (url, anchor) counts
    // collapse map-side, and the dominant-anchor election is the
    // max(struct) device on the second rollup (never a per-url rank
    // window); no join anywhere.
    Q(
      "q_anchor_text",
      (s, d) => {
        import graft.functions.UrlFunctions
        val anchors = documents(s, d)
          .select(col("doc_id"), linkFixtureBase.as("base"), linkFixturePage.as("page"))
          .select(
            col("base"),
            explode(regexp_extract_all(
              col("page"), lit("<a href=\"[^\"]*\"[^>]*>[^<]*</a>"), lit(0))).as("tag"))
          .select(
            col("base"),
            regexp_extract(col("tag"), "href=\"([^\"]*)\"", 1).as("href"),
            regexp_extract(col("tag"), ">([^<]*)</a>", 1).as("anchor"))
          .filter(!col("href").startsWith("#"))
          .select(UrlFunctions.resolveUrl(col("base"), col("href")).as("resolved"), col("anchor"))
          .select(UrlFunctions.canonicalizeUrl(col("resolved")).as("url"), col("anchor"))
        anchors
          .groupBy(col("url"), col("anchor"))
          .agg(count(lit(1)).as("c"))
          .groupBy("url")
          .agg(
            sum(col("c")).as("n_refs"),
            count(lit(1)).as("n_distinct_anchors"),
            max(struct(col("c"), col("anchor"))).as("k"))
          .select(
            col("url"),
            col("n_refs"),
            col("n_distinct_anchors"),
            col("k.anchor").as("top_anchor"),
            round(col("k.c").cast("double") / col("n_refs").cast("double"), 6)
              .as("top_anchor_share"))
          .orderBy("url")
      },
      Some(duckLinkCte +
        """
          |, la AS (
          |  SELECT url,
          |    CASE pos WHEN 0 THEN 'ext' WHEN 1 THEN 'rel' WHEN 2 THEN 'parent'
          |             WHEN 3 THEN 'root' ELSE 'proto' END AS anchor
          |  FROM l),
          |pc AS (SELECT url, anchor, COUNT(*) AS c FROM la GROUP BY 1, 2),
          |agg AS (
          |  SELECT url, CAST(SUM(c) AS BIGINT) AS n_refs,
          |         CAST(COUNT(*) AS BIGINT) AS n_distinct_anchors
          |  FROM pc GROUP BY 1),
          |top AS (
          |  SELECT url, anchor AS top_anchor, c,
          |    row_number() OVER (PARTITION BY url ORDER BY c DESC, anchor DESC) AS rk
          |  FROM pc)
          |SELECT a.url, a.n_refs, a.n_distinct_anchors, t.top_anchor,
          |  round(CAST(t.c AS DOUBLE) / a.n_refs, 6) AS top_anchor_share
          |FROM agg a JOIN top t ON t.url = a.url AND t.rk = 1
          |ORDER BY a.url""".stripMargin)
    ),

    // Robots allow/disallow filtering — the crawl family's PERMISSION
    // dimension (frontier = what to fetch, politeness = how fast, this =
    // what you MAY fetch): every frontier candidate is checked against its
    // host's robots rules with the standard longest-match-wins semantics
    // (Google's robots.txt spec: the most specific — longest — matching
    // path prefix decides; allow wins a same-length tie; no match ⇒
    // allowed). Rules are a deterministic per-host stand-in (md5-digit
    // derived, the crawl-delay/ledger device) so both engines state the
    // same table: /search always disallowed (the classic results-page
    // rule), /lib disallowed for most hosts with /lib/p allowed back
    // for some (THE longest-match exercise: /lib/p{j}.html candidates are
    // re-allowed through the more specific rule), /docs/up disallowed for
    // half the source hosts.
    // Scale shape: the rules table is sourced INDEPENDENTLY of the
    // candidate lineage (the fixture's known host population — one
    // pruned single-column scan + a partial-agg'd distinct; deriving it
    // from the candidates would re-run the whole frontier pipeline on
    // the broadcast side, which the plan pin caught), carries its rules
    // as a row-local ≤4-element array (no per-rule explode/shuffle), and
    // BROADCASTS onto the candidate set — in deployment robots.txt
    // fetches land in exactly such an independent host-keyed table,
    // host-cardinality-sized, joined the same way; the match decision is
    // one row-local array filter + array_max(struct) — no window, no
    // second shuffle. Output = the full decision table a fetcher
    // consumes (candidate + matched rule + verdict): [[robotsDecision]]
    // over [[robotsPrefixRules]].
    Q(
      "q_robots_filter",
      (s, d) =>
        robotsDecision(s, d, robotsPrefixRules(s, d), robotsBestMatch).orderBy("host", "rk"),
      Some(duckRobotsDecision(duckPrefixRulesCte, "starts_with(c.path, ru.prefix)"))
    ),

    // Robots filtering over PARSED robots.txt — the q_robots_filter chain
    // with the one simulated input made real (the r14 verdict's top item):
    // each host carries a deterministic robots.txt BODY in the actual
    // format (comment, Sitemap record, a googlebot decoy group, a
    // graftbot-images decoy whose token must NOT prefix-match, a multi-
    // User-agent graftbot group holding the live rules plus a Crawl-delay
    // and an empty Allow:, and a catch-all `*` group that disallows
    // everything) and the REAL parser (sources.RobotsTxt — the HtmlContent
    // device: real format through a real parser) selects the graftbot
    // group and compiles its rules, so a grouping, selection, empty-value,
    // or wildcard-compilation defect changes decisions and flips the hash
    // (the decoys make wrong group selection catastrophic, not cosmetic).
    // The rule set exercises both spec wildcards ON the live path:
    // `/lib/p*.html$` re-allows ext's /lib/p{j}.html candidates through
    // the longest match and `/*.js$` re-allows cdn's /lib.js over the
    // shorter /lib disallow. Scale shape: parse cost is HOST-cardinality
    // (one typed map over the host table — in deployment the fetched
    // robots.txt bodies land in exactly such a host-keyed table), rules
    // ride as a row-local array into a BROADCAST join, and the match is
    // row-local + array_max over ≤6 rules — no explode, no second
    // shuffle; the per-row regex compile amortizes through the
    // pattern-cache native kernel (TextFunctions.robotsMatch, the
    // election below), so the hot path is one cached-Pattern loop. The
    // oracle restates the post-parse rule table and its regexes literally
    // (ground truth stated directly — it never re-runs the parser).
    Q(
      "q_robots_parse",
      (s, d) => {
        val rules = parsedRobots(s, d, "rules")(graft.sources.RobotsTxt.parsedRulesFor(_, "graftbot"))
        // The NATIVE election kernel (one compiled loop + shared pattern
        // cache); the HOF form robotsBestMatchRx stays the reference —
        // RobotsTxtSpec pins all three kernels (Scala, HOF, native) to
        // identical elections over the same grid.
        robotsDecision(s, d, rules, TextFunctions.robotsMatch).orderBy("host", "rk")
      },
      Some(duckRobotsDecision(
        raw"""rules AS (
             |  SELECT host, '/search' AS prefix, FALSE AS allow, '^/search' AS rx FROM hosts
             |  UNION ALL
             |  SELECT host, '/lib', FALSE, '^/lib' FROM hosts
             |  WHERE ${duckMd5Digit("host", 1)} < 9
             |  UNION ALL
             |  SELECT host, '/lib/p*.html$$', TRUE, '^/lib/p.*\.html$$' FROM hosts
             |  WHERE ${duckMd5Digit("host", 2)} < 9
             |  UNION ALL
             |  SELECT host, '/docs/up', FALSE, '^/docs/up' FROM hosts
             |  WHERE ${duckMd5Digit("host", 3)} < 12
             |  UNION ALL
             |  SELECT host, '/*.js$$', TRUE, '^/.*\.js$$' FROM hosts)""".stripMargin,
        "regexp_matches(c.path, ru.rx)"))
    ),

    // Politeness scheduling from PARSED robots.txt — the fetch-rate input
    // made real the way q_robots_parse made the permission input real:
    // q_frontier_politeness's per-host crawl-delay was a deterministic
    // stand-in; here each host's delay comes out of the SAME robots.txt
    // body the permission query parses (a crawler fetches robots.txt once
    // and reads both from it) via RobotsTxt.crawlDelayFor — group
    // selection included, so a delay declared in the googlebot or `*`
    // group must NOT leak into graftbot's schedule. Hosts whose selected
    // group declares no delay (digit-6 arm absent) fall back to the
    // crawler's own default rate (1 s) through the SAME coalesce a
    // hostless candidate would take — both default arms exercised. Scale
    // shape: parse cost host-cardinality (one typed map), the delay table
    // BROADCASTS onto the already-capped frontier, and the schedule is
    // pure projection arithmetic — the politeness plan still costs the
    // frontier plus a map.
    Q(
      "q_politeness_parsed",
      (s, d) => {
        val delays =
          parsedRobots(s, d, "declared")(graft.sources.RobotsTxt.crawlDelayFor(_, "graftbot"))
        frontierCandidates(s, d, 10)
          .join(broadcast(delays), Seq("host"), "left")
          .select(
            col("host"),
            col("url"),
            col("rk"),
            coalesce(col("declared"), lit(1.0)).as("delay_s"),
            col("declared").isNotNull.as("delay_declared"),
            ((col("rk") - 1) * coalesce(col("declared"), lit(1.0))).as("fetch_offset_s"))
          .withColumn("wave", floor(col("fetch_offset_s") / 10.0).cast("int"))
          .withColumn("in_first_window", col("fetch_offset_s") < 30.0)
          .orderBy("host", "rk")
      },
      Some(duckLinkCte + duckFrontierCte +
        s"""
          |, $duckRobotsHostsCte,
          |delays AS (
          |  SELECT host,
          |    CASE WHEN ${duckMd5Digit("host", 6)} < 12
          |         THEN CAST(1 + (${duckMd5Digit("host", 6)}) % 5 AS DOUBLE)
          |         ELSE NULL END AS declared
          |  FROM hosts),
          |c AS (SELECT host, url, rk FROM r WHERE rk <= 10)
          |SELECT c.host, c.url, c.rk,
          |  COALESCE(d.declared, 1.0) AS delay_s,
          |  d.declared IS NOT NULL AS delay_declared,
          |  (c.rk - 1) * COALESCE(d.declared, 1.0) AS fetch_offset_s,
          |  CAST(floor((c.rk - 1) * COALESCE(d.declared, 1.0) / 10.0) AS INT) AS wave,
          |  (c.rk - 1) * COALESCE(d.declared, 1.0) < 30.0 AS in_first_window
          |FROM c LEFT JOIN delays d USING (host)
          |ORDER BY c.host, c.rk""".stripMargin)
    ),

    // Sitemap ingestion — the crawl family's DISCOVERY input, completing
    // the trio (frontier = what the link graph wants, robots = what you
    // MAY fetch, sitemap = what the site itself ADVERTISES, with its own
    // priority/lastmod hints): each source host carries a deterministic
    // sitemap.xml BODY in the real sitemaps.org format (XML declaration, a
    // comment, the protocol namespace on <urlset>, entries with OPTIONAL
    // <lastmod>/<priority>/<changefreq> in varying combinations, and one
    // <loc> holding an &amp; entity that must unescape to a literal &) and
    // the REAL JDK DOM parser (sources.SitemapXml — namespace-aware,
    // DOCTYPE-rejecting) extracts the entry table. Each advertised URL
    // then joins LEFT against the frontier's top-k (in_frontier + its
    // link-graph refs — a sitemap-only URL is exactly the discovery gap
    // sitemaps exist to close) and gets a per-host fetch_rank by sitemap
    // priority with the protocol's 0.5 DEFAULT for absent priorities.
    // Scale shape: parse cost is HOST-cardinality (one typed map, the
    // robots pattern); entries explode row-locally; the frontier join is
    // (host, url)-keyed and AQE-planned; the fetch_rank window partitions
    // by host over per-host-bounded sitemap entries. The oracle states
    // the post-parse entry table directly (ground truth — it never runs a
    // parser), so a namespace, optional-element, or entity defect flips
    // the hash.
    Q(
      "q_sitemap_ingest",
      (s, d) => {
        val sm = sitemapEntries(s, d)
        val fr = frontierCandidates(s, d, 10).select("host", "url", "n_refs")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("host"))
          .orderBy(coalesce(col("priority"), lit(0.5)).desc, col("url"))
        sm.join(fr, Seq("host", "url"), "left")
          .select(
            col("host"), col("url"), col("lastmod"), col("priority"), col("changefreq"),
            col("n_refs").isNotNull.as("in_frontier"), col("n_refs"))
          .withColumn("fetch_rank", row_number().over(w))
          .orderBy("host", "fetch_rank")
      },
      Some(duckLinkCte + duckFrontierCte +
        s"""
          |, $duckSitemapHostsCte
          |sm AS (
          |  SELECT host,
          |$duckSitemapEntry
          |  FROM hosts, ps
          |  UNION ALL
          |  SELECT host, 'http://' || host || '/search?q=1&x=2', NULL,
          |         CAST('0.9' AS DOUBLE), NULL
          |  FROM hosts),
          |fr AS (SELECT host, url, n_refs FROM r WHERE rk <= 10),
          |j AS (
          |  SELECT s.host, s.url, s.lastmod, s.priority, s.changefreq,
          |    fr.n_refs IS NOT NULL AS in_frontier, fr.n_refs
          |  FROM sm s LEFT JOIN fr ON fr.host = s.host AND fr.url = s.url)
          |SELECT host, url, lastmod, priority, changefreq, in_frontier, n_refs,
          |  CAST(row_number() OVER (PARTITION BY host
          |    ORDER BY COALESCE(priority, 0.5) DESC, url) AS INT) AS fetch_rank
          |FROM j ORDER BY host, fetch_rank""".stripMargin)
    ),

    // Sitemapindex fan-out (the r15 verdict's item 2 — large sites ship an
    // INDEX on day one, and q_sitemap_ingest's flat-urlset assumption
    // scoped it out): each host advertises a real `<sitemapindex>` body
    // (protocol namespace, per-child `<loc>` + `<lastmod>`), the REAL
    // parser's new index grammar (sources.SitemapXml.parseIndex — same
    // hardened DOM builder, DOCTYPE-rejecting) extracts the child table,
    // and each advertised child document — three per host, partitioning
    // the SAME nine-entry population the flat fixture advertises
    // (sitemapEntryXml is the one shared grammar, so the two discovery
    // paths cannot drift) — goes back through SitemapXml.parse: the
    // nested real-format discovery chain index → children → entries, with
    // the index's lastmod hint joined onto every entry it fans out to.
    // Scale shape: both parse maps are HOST-cardinality (3 child docs per
    // host); entries explode row-locally; the child join is (host,
    // sitemap)-keyed and AQE-planned. The oracle states the post-parse
    // ground truth of BOTH levels directly (child locs/lastmods AND entry
    // tables — it never runs a parser), so an index-grammar,
    // namespace, or fan-out defect flips the hash.
    Q(
      "q_sitemap_index",
      (s, d) => {
        import s.implicits._
        val hosts = sourceHosts(s, d)
        val idxXml = concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n") +:
            (0 to 2).map { c =>
              concat(
                lit("  <sitemap>\n    <loc>http://"), col("host"),
                lit(s"/sitemap-$c.xml</loc>\n    <lastmod>2024-02-0${c + 1}</lastmod>\n  </sitemap>\n"))
            } :+ lit("</sitemapindex>\n"): _*)
        val idx = hosts
          .select(col("host"), idxXml.as("xml"))
          .as[(String, String)]
          .map { case (h, x) => (h, graft.sources.SitemapXml.parseIndex(x)) }
          .toDF("host", "sitemaps")
          .select(col("host"), explode(col("sitemaps")).as("sm"))
          .select(
            col("host"),
            col("sm.loc").as("sitemap"),
            col("sm.lastmod").as("sitemap_lastmod"))
        val childBodies = (0 to 2).map { c =>
          val body = urlset("", (0 to 8).filter(_ % 3 == c).map(sitemapEntryXml))
          hosts.select(
            col("host"),
            concat(lit("http://"), col("host"), lit(s"/sitemap-$c.xml")).as("sitemap"),
            body.as("xml"))
        }.reduce(_ unionAll _)
        val entries = childBodies
          .as[(String, String, String)]
          .map { case (h, sm, x) => (h, sm, graft.sources.SitemapXml.parse(x)) }
          .toDF("host", "sitemap", "entries")
          .select(col("host"), col("sitemap"), explode(col("entries")).as("e"))
          .select(
            col("host"), col("sitemap"),
            col("e.loc").as("url"), col("e.lastmod").as("lastmod"),
            col("e.priority").as("priority"), col("e.changefreq").as("changefreq"))
        idx
          .join(entries, Seq("host", "sitemap"))
          .orderBy("host", "sitemap", "url")
      },
      Some(s"""WITH $duckSitemapHostsCte
             |e AS (
             |  SELECT host,
             |    'http://' || host || '/sitemap-' || CAST(p % 3 AS VARCHAR) || '.xml' AS sitemap,
             |    '2024-02-0' || CAST(p % 3 + 1 AS VARCHAR) AS sitemap_lastmod,
             |$duckSitemapEntry
             |  FROM hosts, ps)
             |SELECT host, sitemap, sitemap_lastmod, url, lastmod, priority, changefreq
             |FROM e ORDER BY host, sitemap, url""".stripMargin)
    ),

    // Redirect-chain resolution (r16 — the crawl bookkeeping between
    // fetching and the frontier: at web scale the redirect map is a
    // billion-edge partial function url→url, and every crawler resolves
    // each URL to its TERMINAL target before dedup/indexing, detecting
    // loops): per host the fixture plants a 3-hop chain, a direct
    // redirect, and a 2-cycle, and the resolver runs POINTER DOUBLING —
    // compose the map with itself ⌈log₂ L⌉ times, so a chain of length L
    // resolves in O(log L) self-joins instead of L sequential probes
    // (maxDepth = 8 here → three rounds; a billion-edge map resolves
    // 64-deep chains in six shuffles, the classic parallel
    // list-ranking/path-doubling bound — per round ONE equi-join on the
    // current target, AQE-planned). The operator is
    // EtlOps.resolveRedirects, which carries the lineage discipline that
    // LICENSES the depth claim: localCheckpoint every two rounds (the
    // rankDistributed device), so deep resolves run over truncated plans
    // instead of a 2^rounds join tree — RedirectResolveSpec drives a real
    // 64-deep chain through it against a driver-walked reference. Hop
    // counts compose additively through the doubling; a URL still holding
    // an outgoing edge after the rounds is a LOOP (final_url/hops NULL,
    // is_cycle true — the 2-cycle pins it). The oracle resolves the same
    // map with a hop-bounded RECURSIVE CTE and takes the terminal row —
    // so a composition, hop-accounting, or loop-detection defect flips
    // the hash.
    Q(
      "q_redirect_resolve",
      (s, d) => {
        def u(path: String) = concat(lit("http://"), col("host"), lit(path))
        val shapes = Seq(
          ("/r/0", "/r/1"), ("/r/1", "/r/2"), ("/r/2", "/final.html"),
          ("/solo", "/final2.html"),
          ("/loop/a", "/loop/b"), ("/loop/b", "/loop/a"))
        val edges = sourceHosts(s, d)
          .select(explode(array(shapes.map { case (a, b) =>
            struct(u(a).as("src"), u(b).as("dst"))
          }: _*)).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        graft.operators.EtlOps.resolveRedirects(edges, maxDepth = 8).orderBy("url")
      },
      Some(s"""WITH RECURSIVE $duckSourceHostsCte,
             |e AS (
             |  SELECT 'http://' || host || s AS src, 'http://' || host || t AS dst
             |  FROM hosts, (VALUES ('/r/0', '/r/1'), ('/r/1', '/r/2'),
             |    ('/r/2', '/final.html'), ('/solo', '/final2.html'),
             |    ('/loop/a', '/loop/b'), ('/loop/b', '/loop/a')) v(s, t)),
             |r AS (
             |  SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
             |  UNION ALL
             |  SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON r.cur = e.src
             |  WHERE r.hops < 8),
             |term AS (
             |  SELECT r.src, r.cur, r.hops
             |  FROM r LEFT JOIN e ON r.cur = e.src
             |  WHERE e.src IS NULL)
             |SELECT e0.src AS url, t.cur AS final_url, t.hops,
             |  t.src IS NULL AS is_cycle
             |FROM (SELECT DISTINCT src FROM e) e0
             |LEFT JOIN term t ON e0.src = t.src
             |ORDER BY url""".stripMargin)
    ),

    // The crawl chain COMPOSED under one hash gate (r16 verdict item 6 —
    // the q_uscrn_e2e lesson applied to the crawl family: frontier
    // election, robots permission, redirect following, canonicalization,
    // and dedup each have green rows; a crawler runs them as ONE loop):
    // frontier candidates (link extraction → canonical rollup → ledger
    // filter → per-host top-10) → robots decision (q_robots_filter's
    // broadcast rules + row-local longest-match election; blocked
    // candidates never fetch) → fetch simulation where a deterministic
    // subset 301s to a MESSY absolute Location (uppercase scheme/host +
    // a tracking param — what servers actually emit) → the REAL
    // UrlFunctions.canonicalizeUrl on the Location (lowercases, strips
    // utm) → a second hop for two of the four landing pages (bounded
    // 2-deep chains; unbounded chains are q_redirect_resolve's doubling
    // row) → final-URL DEDUP (q_url_dedup's rollup): the fetch plan a
    // crawler executes, with n_urls counting how many elected candidates
    // collapsed onto each final page. Scale shape: composition adds no
    // shuffle beyond its parts — frontier's own shuffles, ONE broadcast
    // for rules, row-local redirect+canonicalize arithmetic, and the one
    // partial-agg'd final rollup.
    Q(
      "q_crawl_e2e",
      (s, d) => {
        // Permission: q_robots_filter's decision over its rules fixture.
        val allowed = robotsDecision(s, d, robotsPrefixRules(s, d), robotsBestMatch)
          .filter(col("allowed"))
          .select("host", "url", "n_refs")
        // Fetch: urls with md5 digit 1 < 8 return a 301 whose Location is
        // messy on purpose; the real canonicalizer cleans it.
        val loc = concat(
          lit("HTTP://"), upper(col("host")), lit("/dest/"),
          pmod(md5Digit("url", 2), lit(4)).cast("int").cast("string"),
          lit(".html?utm_source=crawl&page="),
          pmod(md5Digit("url", 3), lit(2)).cast("int").cast("string"))
        val cur1 = when(md5Digit("url", 1) < 8, graft.functions.UrlFunctions.canonicalizeUrl(loc))
          .otherwise(col("url"))
        // Hop 2: landing pages /dest/0.html and /dest/1.html moved again.
        val finalUrl = when(
          cur1.rlike("/dest/[01]\\.html"),
          concat(lit("http://"), col("host"), lit("/dest/final.html"))).otherwise(cur1)
        allowed
          .select(col("host"), col("n_refs"), finalUrl.as("final_url"))
          .groupBy("host", "final_url")
          .agg(count(lit(1)).as("n_urls"), sum(col("n_refs")).as("n_refs"))
          .orderBy("host", "final_url")
      },
      Some(duckLinkCte + duckFrontierCte +
        duckRobotsElection(duckPrefixRulesCte, "ru.allow", "starts_with(c.path, ru.prefix)") +
        raw""",
          |alw AS (
          |  SELECT c.host, c.url, c.n_refs
          |  FROM cand c LEFT JOIN (SELECT url, allow FROM m WHERE mrk = 1) b USING (url)
          |  WHERE COALESCE(b.allow, TRUE)),
          |d1 AS (
          |  SELECT host, url, n_refs,
          |    CASE WHEN ${duckMd5Digit("url", 1)} < 8
          |         THEN 'http://' || host || '/dest/'
          |           || CAST((${duckMd5Digit("url", 2)}) % 4 AS VARCHAR)
          |           || '.html?page='
          |           || CAST((${duckMd5Digit("url", 3)}) % 2 AS VARCHAR)
          |         ELSE url END AS cur
          |  FROM alw),
          |d2 AS (
          |  SELECT host, n_refs,
          |    CASE WHEN regexp_matches(cur, '/dest/[01]\.html')
          |         THEN 'http://' || host || '/dest/final.html' ELSE cur END AS final_url
          |  FROM d1)
          |SELECT host, final_url, CAST(COUNT(*) AS BIGINT) AS n_urls,
          |  CAST(SUM(n_refs) AS BIGINT) AS n_refs
          |FROM d2 GROUP BY 1, 2 ORDER BY host, final_url""".stripMargin)
    ),

    // WARC-record parsing (r16 — the crawl family's CONTAINER format:
    // robots = permission, sitemap = advertisement, frontier = demand,
    // and the crawler's OUTPUT is a stream of WARC records; Common Crawl,
    // the canonical web training corpus, ships exactly this). Each host
    // carries a concatenated multi-record WARC stream (real framing:
    // WARC/1.0 magic, named headers, Content-Length-driven BYTE-exact
    // payloads, CRLFCRLF terminators) synthesized from its documents, and
    // the real parser (sources.WarcLite — byte-array slicing, fails
    // loudly on any framing defect) extracts the record table. The oracle
    // states post-parse ground truth directly — target URI, type,
    // Content-Length as DuckDB's own octet count of the text, and the
    // payload's md5 — so an off-by-one in header-block or payload
    // slicing corrupts a digest and flips the hash (the binary-safety
    // hand cases live in WarcLiteSpec: payloads containing CRLFCRLF and
    // fake magic must parse intact because framing is length-driven).
    // Scale shape: the per-host stream CONCAT here is fixture synthesis —
    // in production WARC files arrive AS FILES and the parse maps per
    // file (binaryFile scan + one mapPartitions, embarrassingly
    // parallel); the parse itself is one linear pass per stream.
    Q(
      "q_warc_parse",
      (s, d) => {
        import s.implicits._
        val rec = concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://"),
          lower(col("source")), lit(".example.com/doc/"), col("doc_id").cast("string"),
          lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
          length(encode(col("text"), "UTF-8")).cast("string"),
          lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
        documents(s, d)
          .select(
            concat(lower(col("source")), lit(".example.com")).as("host"),
            col("doc_id"),
            rec.as("rec"))
          .groupBy("host")
          .agg(array_join(
            transform(array_sort(collect_list(struct(col("doc_id"), col("rec")))), x => x("rec")),
            "").as("stream"))
          .as[(String, String)]
          .flatMap { case (h, stream) =>
            graft.sources.WarcLite.parse(stream.getBytes("UTF-8")).map { r =>
              (h,
                r.header("WARC-Target-URI").getOrElse(""),
                r.header("WARC-Type").getOrElse(""),
                r.header("Content-Type").getOrElse(""),
                r.payload.length.toLong,
                java.security.MessageDigest.getInstance("MD5")
                  .digest(r.payload).map(b => f"$b%02x").mkString)
            }
          }
          .toDF("host", "url", "warc_type", "content_type", "content_length", "payload_md5")
          .orderBy("host", "url")
      },
      Some("""SELECT lower(source) || '.example.com' AS host,
             |  'http://' || lower(source) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
             |  'response' AS warc_type,
             |  'text/plain' AS content_type,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             |  md5(text) AS payload_md5
             |FROM documents ORDER BY host, url""".stripMargin)
    ),

    // WARC WRITE→PARSE round trip (r16 verdict item 4 — q_warc_parse
    // covers ingest, but Common Crawl pipelines WRITE warc too; the
    // container format is only closed when the engine's own writer's
    // output re-parses byte-exactly): documents shard into BOUNDED streams
    // (doc_id mod 4 per source — the shard count is the scale knob; at
    // 100 TB you size K so each stream is the ~1 GB WARC file a crawler
    // actually emits, and shards fan out across executors), each shard
    // serializes through WarcLite.write (derived Content-Length counting
    // octets, sorted headers for a deterministic stream) and immediately
    // re-parses through WarcLite.parse — so the oracle hash checks the
    // writer THROUGH the parser: a framing defect on either side (a
    // mis-counted multibyte length, a missing terminator, an unsorted
    // duplicate header) surfaces as a row/hash mismatch, not a latent
    // corrupt container. One groupByKey shuffle on (source, shard); the
    // write+parse is a linear per-group pass.
    Q(
      "q_warc_roundtrip",
      (s, d) => {
        import s.implicits._
        documents(s, d)
          .select(lower(col("source")).as("src"), col("doc_id"), col("text"))
          .as[(String, Long, String)]
          .groupByKey { case (src, id, _) => (src, id % 4) }
          .flatMapGroups { (key: (String, Long), it: Iterator[(String, Long, String)]) =>
            val (src, shard) = key
            val recs = it.toSeq.sortBy(_._2).map { case (_, id, text) =>
              graft.sources.WarcLite.Record(
                Map(
                  "WARC-Type" -> "response",
                  "WARC-Target-URI" -> s"http://$src.example.com/doc/$id",
                  "Content-Type" -> "text/plain"),
                text.getBytes("UTF-8"))
            }
            val stream = graft.sources.WarcLite.write(recs)
            graft.sources.WarcLite.parse(stream).map { r =>
              (s"$src.example.com", shard,
                r.header("WARC-Target-URI").getOrElse(""),
                r.header("WARC-Type").getOrElse(""),
                r.payload.length.toLong,
                java.security.MessageDigest.getInstance("MD5")
                  .digest(r.payload).map(b => f"$b%02x").mkString)
            }
          }
          .toDF("host", "shard", "url", "warc_type", "content_length", "payload_md5")
          .orderBy("host", "shard", "url")
      },
      Some("""SELECT lower(source) || '.example.com' AS host,
             |  doc_id % 4 AS shard,
             |  'http://' || lower(source) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
             |  'response' AS warc_type,
             |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
             |  md5(text) AS payload_md5
             |FROM documents ORDER BY host, shard, url""".stripMargin)
    ),

    // Incremental recrawl scheduling — what the sitemap's <lastmod> is FOR
    // (q_sitemap_ingest discovers; this decides WHEN to come back): each
    // advertised URL checks against the crawl ledger — the SAME
    // deterministic md5-prefix membership the frontier uses as its
    // crawled-set, so discovery and recrawl share one ledger story — and
    // classifies: never fetched ⇒ `new` (fetch), fetched and the sitemap
    // advertises a LATER lastmod ⇒ `stale` (refetch), advertised lastmod
    // not newer ⇒ `fresh` (skip), no lastmod advertised ⇒ `no_lastmod`
    // (skip — no staleness evidence; a TTL/changefreq policy would slot
    // here). ISO dates compare as strings — identical on both engines, no
    // timestamp parsing in the decision. Scale shape: the sitemap side is
    // host-bounded (one parse map); the ledger probe is row-local md5
    // arithmetic here and a (url)-keyed anti/left join against the fetch
    // log in deployment — either way the schedule is one map over the
    // advertised set, never a crawl-corpus scan.
    Q(
      "q_recrawl_schedule",
      (s, d) => {
        val sm = sitemapEntries(s, d).select("host", "url", "lastmod")
        val fetched = substring(md5(col("url")), 1, 1).isin("0", "1", "2")
        val fetchedAt = concat(
          lit("2024-01-0"),
          (lit(1) + pmod(
            md5Digit("url", 2),
            lit(7))).cast("string"))
        sm.withColumn("fetched_at", when(fetched, fetchedAt))
          .select(
            col("host"), col("url"), col("lastmod"), col("fetched_at"),
            when(col("fetched_at").isNull, lit("new"))
              .when(col("lastmod").isNull, lit("no_lastmod"))
              .when(col("lastmod") > col("fetched_at"), lit("stale"))
              .otherwise(lit("fresh")).as("reason"))
          .withColumn("needs_fetch", col("reason").isin("new", "stale"))
          .orderBy("host", "url")
      },
      Some(s"""WITH $duckSitemapHostsCte
             |sm AS (
             |  SELECT host,
             |$duckSitemapUrlLastmod
             |  FROM hosts, ps
             |  UNION ALL
             |  SELECT host, 'http://' || host || '/search?q=1&x=2', NULL FROM hosts),
             |led AS (
             |  SELECT host, url, lastmod,
             |    CASE WHEN substr(md5(url), 1, 1) IN ('0', '1', '2')
             |         THEN '2024-01-0' || CAST(1 + (${duckMd5Digit("url", 2)}) % 7 AS VARCHAR)
             |         ELSE NULL END AS fetched_at
             |  FROM sm),
             |cls AS (
             |  SELECT host, url, lastmod, fetched_at,
             |    CASE WHEN fetched_at IS NULL THEN 'new'
             |         WHEN lastmod IS NULL THEN 'no_lastmod'
             |         WHEN lastmod > fetched_at THEN 'stale'
             |         ELSE 'fresh' END AS reason
             |  FROM led)
             |SELECT host, url, lastmod, fetched_at, reason,
             |  reason IN ('new', 'stale') AS needs_fetch
             |FROM cls ORDER BY host, url""".stripMargin)
    ),

    // HTML main-content extraction — boilerplate/chrome removal, the
    // gate between raw crawl HTML and EVERY text-quality operator above
    // (which all assume clean prose; nav/footer/link-farm chrome would
    // otherwise dominate token counts and poison dedup shingles).
    // HtmlContent applies the simplified jusText/Boilerpipe text-density
    // rule: script/style/head dropped, block segmentation at block-level
    // tags, a block is content iff ≥30 visible chars AND link density
    // ≤ 0.33. The corpus has no HTML column, so (the q_url_canonical /
    // q_redact_pii pattern) each doc renders a deterministic full page —
    // nav chrome, heading, the doc's text as two <p> halves, one static
    // inline-decorated entity-bearing paragraph, a long link farm (only
    // the DENSITY rule can reject it), a short footer — and the REAL
    // extractor runs over real markup on the Spark side while the oracle
    // states the ground truth directly from documents: a missed script
    // payload, a split inline tag, an undecoded entity, or a
    // misclassified block all flip the hash. Extraction is one map-only
    // UDF pass (plan-pinned) — a million cached pages extract with no
    // shuffle; fixture-page behavior on REAL NWS pages is spec-pinned
    // alongside the table pipeline (HtmlContentSpec).
    Q(
      "q_html_extract",
      (s, d) => {
        val h = floor(length(col("text")) / lit(2)).cast("int")
        val p1 = col("text").substr(lit(1), h)
        val p2 = col("text").substr(h + lit(1), length(col("text")))
        val page = concat(
          lit("<html><head><title>Doc</title><style>body { color: #333; }</style></head><body>" +
            "<script>var tracker = \"analytics\";</script>" +
            "<div class=\"nav\"><a href=\"/\">Home</a> | <a href=\"/about\">About</a> | <a href=\"/contact\">Contact</a></div>" +
            "<h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><p>"), p1, lit("</p><p>"), p2,
          lit("</p><p>Figures include <b>bold</b> and <i>italic</i> runs &amp; entities for style checks in this paragraph.</p>" +
            "<div class=\"related\"><a href=\"/a\">Read more about our related articles</a> <a href=\"/b\">Subscribe to the weekly newsletter</a></div>" +
            "<div class=\"footer\">&#169; 2024 Example | <a href=\"/tos\">Terms</a></div>" +
            "</body></html>")
        )
        graft.sources.HtmlContent
          .extractMain(documents(s, d).select(col("doc_id"), page.as("html")), col("html"))
          .select("doc_id", "content", "n_blocks", "n_content_blocks")
      },
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    trim(substr(text, 1, CAST(floor(length(text) / 2) AS INT))) AS p1,
             |    trim(substr(text, CAST(floor(length(text) / 2) AS INT) + 1)) AS p2
             |  FROM documents)
             |SELECT doc_id,
             |  concat_ws(chr(10),
             |    CASE WHEN length(p1) >= 30 THEN p1 END,
             |    CASE WHEN length(p2) >= 30 THEN p2 END,
             |    'Figures include bold and italic runs & entities for style checks in this paragraph.') AS content,
             |  5 + CASE WHEN length(p1) > 0 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p2) > 0 THEN 1 ELSE 0 END AS n_blocks,
             |  1 + CASE WHEN length(p1) >= 30 THEN 1 ELSE 0 END
             |    + CASE WHEN length(p2) >= 30 THEN 1 ELSE 0 END AS n_content_blocks
             |FROM h""".stripMargin)
    ),

    // Language-balanced rate sampling — downsample the dominant language
    // instead of capping it, preserving within-language distribution. The
    // keep rates are DERIVED from the observed language counts (uniform
    // target mix: every language downsampled to ≈ the smallest language's
    // count) by EtlOps.balancedSample — one K-row aggregate broadcast back
    // as literal thresholds; the filter itself is a zero-shuffle
    // deterministic md5-threshold, reproducible across engines (same
    // device as q_deterministic_sample). The oracle re-derives the same
    // rates in SQL, so the data-driven policy is hash-checked end to end.
    Q(
      "q_balanced_sample",
      (s, d) =>
        graft.operators.EtlOps
          .balancedSample(documents(s, d), by = "lang", idCol = "doc_id")
          .select("doc_id", "lang", "source", "n_chars"),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
             |m AS (SELECT MIN(cnt) AS mn FROM c),
             |thr AS (
             |  SELECT lang,
             |    CASE WHEN cnt <= mn THEN 'g'
             |         ELSE printf('%08x', CAST(floor(4294967296.0 * mn / cnt) AS BIGINT)) END AS t
             |  FROM c, m)
             |SELECT d.doc_id, d.lang, d.source, d.n_chars
             |FROM documents d JOIN thr USING (lang)
             |WHERE md5(CAST(d.doc_id AS VARCHAR) || '_bal') < thr.t""".stripMargin)
    ),

    // Deterministic train/val/test split (~80/10/10) by hash prefix — the
    // assignment is a pure function of doc_id, so it is reproducible run
    // to run, engine to engine, and stable under corpus growth (a doc
    // never migrates between splits when new docs arrive — the property
    // random splits lose). Keyed on the first md5 byte: 00-cb train
    // (204/256), cc-e5 val (26/256), e6-ff test. Zero shuffles.
    Q(
      "q_train_test_split",
      (s, d) => documents(s, d).select(col("doc_id"), col("lang"), splitAssign.as("split")),
      Some(s"""SELECT doc_id, lang, $splitAssignSql AS split
              |FROM documents""".stripMargin)
    ),

    // Cross-split leakage detector — the dedup family's missing boundary
    // check: a benchmark decontamination pass guards corpus-vs-benchmark,
    // but a split assignment can still leak near-identical CONTENT from
    // train into val/test (the overlap that silently inflates eval
    // scores). For every non-train doc, count its distinct 4-word grams
    // that appear in ANY train doc. Shape at scale: grams hash to 8-byte
    // longs BEFORE the exchange; the train side collapses to a DISTINCT
    // gram set, so the gram-key join is a semi-join probe with no
    // multiplicity blowup (each probe row matches at most one build row
    // no matter how many train docs share the gram), well-distributed on
    // the gram key; partial aggregation then reduces per (doc, split).
    // Same 64-bit honesty contract as decontamination (~n²/2⁶⁴ collisions
    // vs the string-gram oracle).
    Q(
      "q_cross_split_leakage",
      (s, d) => {
        val grams = documents(s, d)
          .select(
            col("doc_id"),
            splitAssign.as("split"),
            explode(graft.functions.SimilarityFunctions.hashedShingles64(lower(col("text")), n = 4)).as("gram")
          )
        val trainGrams = grams.filter(col("split") === "train").select("gram").distinct()
        grams
          .filter(col("split") =!= "train")
          .join(trainGrams, "gram")
          .groupBy("doc_id", "split")
          .agg(count(lit(1)).as("n_leaked_grams"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (SELECT doc_id, $splitAssignSql AS split,
              |  string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
              |g AS (SELECT DISTINCT doc_id, split, array_to_string(ws[i:i+3], ' ') AS gram
              |      FROM w, unnest(range(1, len(ws) - 2)) AS t(i) WHERE len(ws) >= 4),
              |tg AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
              |SELECT g.doc_id, g.split, COUNT(*) AS n_leaked_grams
              |FROM g JOIN tg USING (gram)
              |WHERE g.split <> 'train'
              |GROUP BY 1, 2
              |ORDER BY doc_id""".stripMargin)
    ),

    // Sequence packing: assign docs to fixed token-budget shards (the
    // pretraining batch-assembly step) by exclusive running token count
    // within (lang, source), greedy in doc_id order. Packing is inherently
    // sequential, but (lang, source) cardinality is O(100) at ANY corpus
    // size, so a bare per-stream window would push ~1 TB through one
    // reducer at 100 TB. EtlOps.packShards runs the hierarchical prefix
    // sum instead: per-(stream, block) local window (partitions bounded by
    // blockSize rows), broadcast per-block offsets, local re-base — bit-
    // identical to the naive definition the oracle states. blockSize=128
    // here so the block hierarchy is actually exercised at sf0.01/sf0.1
    // (production default is 2²⁶). Token count is the n_chars/4 heuristic
    // to keep the oracle engine-portable.
    Q(
      "q_pack_context",
      (s, d) =>
        graft.operators.EtlOps.packShards(
          documents(s, d).select(
            col("doc_id"), col("lang"), col("source"),
            floor(col("n_chars") / 4.0).cast("long").as("n_tok")
          ),
          streamCols = Seq("lang", "source"),
          orderCol = "doc_id",
          tokCol = "n_tok",
          budget = 8192L,
          blockSize = 128L
        ).select("doc_id", "lang", "source", "n_tok", "shard_id"),
      Some("""SELECT doc_id, lang, source,
             |  CAST(floor(n_chars / 4.0) AS BIGINT) AS n_tok,
             |  CAST(floor((SUM(CAST(floor(n_chars / 4.0) AS BIGINT)) OVER (
             |      PARTITION BY lang, source ORDER BY doc_id)
             |    - CAST(floor(n_chars / 4.0) AS BIGINT)) / 8192.0) AS BIGINT) AS shard_id
             |FROM documents""".stripMargin)
    ),

    // Packing efficiency report — the observability table a packing run
    // publishes next to its shards: per stream, how many shards were cut,
    // the token mass, and the fill rate against the 8192 budget (1 − fill
    // is the padding waste a training run pays). Rides the same
    // hierarchical packShards plan, then one K-row aggregate; fill_rate
    // divides exact longs as doubles, identical in both engines.
    Q(
      "q_pack_stats",
      (s, d) =>
        graft.operators.EtlOps.packShards(
          documents(s, d).select(
            col("doc_id"), col("lang"), col("source"),
            floor(col("n_chars") / 4.0).cast("long").as("n_tok")
          ),
          streamCols = Seq("lang", "source"),
          orderCol = "doc_id",
          tokCol = "n_tok",
          budget = 8192L,
          blockSize = 128L
        )
          .groupBy("lang", "source")
          .agg((max(col("shard_id")) + 1).as("n_shards"), sum(col("n_tok")).as("n_tokens"))
          .select(
            col("lang"), col("source"), col("n_shards"), col("n_tokens"),
            (col("n_tokens") / (col("n_shards") * 8192.0)).as("fill_rate")
          )
          .orderBy("lang", "source"),
      Some("""WITH p AS (
             |  SELECT lang, source, CAST(floor(n_chars / 4.0) AS BIGINT) AS n_tok,
             |    CAST(floor((SUM(CAST(floor(n_chars / 4.0) AS BIGINT)) OVER (
             |        PARTITION BY lang, source ORDER BY doc_id)
             |      - CAST(floor(n_chars / 4.0) AS BIGINT)) / 8192.0) AS BIGINT) AS shard_id
             |  FROM documents)
             |SELECT lang, source,
             |  MAX(shard_id) + 1 AS n_shards,
             |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             |  CAST(SUM(n_tok) AS BIGINT) / ((MAX(shard_id) + 1) * 8192.0) AS fill_rate
             |FROM p GROUP BY 1, 2
             |ORDER BY lang, source""".stripMargin)
    ),

    // Inverse-frequency sampling weights — the per-language multiplier a
    // temperature-style mix applies so rare languages are upweighted:
    // weight_l = N / (K · count_l) (weights average to 1 across the
    // corpus). One K-row aggregate joined to a 1-row broadcast total;
    // integer counts divide as doubles identically in both engines.
    Q(
      "q_sampling_weights",
      (s, d) => {
        val docs = documents(s, d)
        val totals = docs.agg(count(lit(1)).as("n_total"), countDistinct(col("lang")).as("k"))
        docs.groupBy("lang")
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(totals))
          .select(col("lang"), col("cnt"), (col("n_total") / (col("k") * col("cnt"))).as("weight"))
      },
      Some("""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
             |t AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT lang) AS k FROM documents)
             |SELECT lang, cnt, n_total / (k * cnt) AS weight FROM c, t""".stripMargin)
    ),

    // Weighted sampling WITHOUT replacement ∝ weight — the draw that
    // q_sampling_weights' multipliers feed: "take k=100 documents with
    // inclusion probability ∝ n_chars", by systematic sampling over a
    // deterministic md5 order (EtlOps.weightedSystematicSample). Exact
    // integer threshold arithmetic makes the selected SET engine- and
    // partitioning-exact (no float RNG to disagree on), and the weight
    // prefix sum is the packShards two-level hierarchical decomposition —
    // blocks from the order key's high bits, so no window partition grows
    // with the corpus and the big side shuffles exactly once. The naive
    // single-window definition is what the oracle states; the spec pins
    // hierarchical ≡ naive.
    Q(
      "q_weighted_sample",
      (s, d) =>
        graft.operators.EtlOps
          .weightedSystematicSample(
            documents(s, d).select("doc_id", "source", "n_chars"),
            idCol = "doc_id",
            weightCol = "n_chars",
            k = 100L)
          .select("doc_id", "source", "n_chars"),
      Some("""WITH r AS (
             |  SELECT doc_id, source, n_chars,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_wsamp'), 1, 15)) AS BIGINT) AS rk
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_chars,
             |    SUM(n_chars) OVER (ORDER BY rk, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ci
             |  FROM r),
             |t AS (SELECT SUM(n_chars) AS tw FROM documents)
             |SELECT doc_id, source, n_chars FROM c, t
             |WHERE (ci * 100) // tw > ((ci - n_chars) * 100) // tw""".stripMargin)
    ),

    // Percentile-rank normalization per language — the score-calibration
    // step before mixing corpora: raw quality signals (here n_chars) are
    // not comparable across languages, their per-lang percentile IS. The
    // oracle states the textbook percent_rank() window — but a percent_rank
    // PARTITION BY lang is the O(100)-cardinality hot-key window this repo
    // bans (a full language through ONE reducer at 100 TB). The Spark plan
    // instead aggregates to per-(lang, value) counts (partial-agg'd, the
    // shuffle carries ≤ |value domain| rows per lang), runs the cumulative
    // window over that BOUNDED domain, and broadcast-joins the CDF back
    // onto the unshuffled fact scan — bit-identical to percent_rank
    // because (cum_less)/(n−1) with tied values sharing their min rank IS
    // percent_rank's definition, and both engines compute one integer÷
    // integer double division. Continuous scores at 100 TB: quantize or
    // feed thresholds from the approx_percentile sketch
    // (q_group_quantiles_approx) — same broadcast-back shape.
    Q(
      "q_percentile_normalize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d).select("doc_id", "lang", "n_chars")
        val wCdf = Window.partitionBy("lang").orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val counts = docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("cnt"))
        val cdf = counts.withColumn("cum_less", sum(col("cnt")).over(wCdf) - col("cnt"))
        // Totals re-aggregate the K·V-row counts table, not the corpus —
        // the documents scan feeding the CDF side happens exactly once.
        val totals = counts.groupBy("lang").agg(sum(col("cnt")).as("n_l"))
        docs
          .join(broadcast(cdf.join(totals, "lang")), Seq("lang", "n_chars"))
          .select(
            col("doc_id"),
            col("lang"),
            col("n_chars"),
            when(col("n_l") === 1, lit(0.0))
              .otherwise(col("cum_less").cast("double") / (col("n_l") - 1))
              .as("pr"))
      },
      Some("""SELECT doc_id, lang, n_chars,
             |  percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
             |FROM documents""".stripMargin)
    ),

    // PMI collocations — document-level pointwise mutual information for
    // word bigrams: pmi = ln(N·df_ab / (df_a·df_b)) over DOCUMENT
    // frequencies, the classic collocation/phrase-mining signal (and the
    // boilerplate detector: templated word pairs score extreme PMI). All
    // counting runs on the distinct-shingle kernel (unigrams = 1-gram
    // shingles, bigrams = 2-gram), two partial-agg'd shuffles + two
    // vocabulary joins. The unigram-df table is the full distinct-word
    // vocabulary — corpus-DEPENDENT (web-scale noise pushes it to 1e8-1e9
    // keys, NOT broadcastable), so the joins are left unhinted: AQE
    // broadcasts when the measured build side fits under the threshold and
    // otherwise shuffle-joins on the well-distributed word key; the
    // df_bg >= 10 filter bounds the probe side either way. Emits the full
    // df≥10 set rather than a float-ordered top-k so
    // the output row set is engine-exact (ln ulp differences stay inside
    // the driver's float rounding; an ORDER BY pmi LIMIT could flip ranks
    // on near-ties).
    Q(
      "q_collocations",
      (s, d) => {
        val docs = documents(s, d)
        val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
        val uni = docs
          .select(col("doc_id"), explode(graft.functions.SimilarityFunctions.shingles(lower(col("text")), n = 1)).as("w"))
        val dfu = uni.groupBy("w").agg(count(lit(1)).as("df_w"))
        val dfb = docs
          .select(col("doc_id"), explode(graft.functions.SimilarityFunctions.shingles(lower(col("text")), n = 2)).as("bg"))
          .groupBy("bg")
          .agg(count(lit(1)).as("df_bg"))
          .filter(col("df_bg") >= 10)
        dfb
          .withColumn("w1", element_at(split(col("bg"), " "), 1))
          .withColumn("w2", element_at(split(col("bg"), " "), 2))
          .join(dfu.as("u1"), col("w1") === col("u1.w"))
          .join(dfu.as("u2"), col("w2") === col("u2.w"))
          .crossJoin(broadcast(nDocs))
          .select(
            col("bg"), col("df_bg"),
            // df_w products widen to double BEFORE multiplying: two
            // stopword dfs at 100 TB scale (~1e10 each) overflow long.
            log(col("n_docs") * col("df_bg") /
              (col("u1.df_w").cast("double") * col("u2.df_w").cast("double"))).as("pmi")
          )
      },
      Some("""WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
             |uni AS (SELECT DISTINCT doc_id, unnest(ws) AS w FROM w),
             |dfu AS (SELECT w, COUNT(*) AS df_w FROM uni GROUP BY 1),
             |big AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+1], ' ') AS bg
             |        FROM w, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
             |dfb AS (SELECT bg, COUNT(*) AS df_bg FROM big GROUP BY 1 HAVING COUNT(*) >= 10),
             |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
             |SELECT bg, df_bg,
             |  ln(n_docs * df_bg / (CAST(u1.df_w AS DOUBLE) * CAST(u2.df_w AS DOUBLE))) AS pmi
             |FROM dfb, n
             |JOIN dfu u1 ON u1.w = string_split(bg, ' ')[1]
             |JOIN dfu u2 ON u2.w = string_split(bg, ' ')[2]""".stripMargin)
    ),

    // Paragraph-level exact dedup (the RefinedWeb/CCNet "line dedup" pass):
    // chunk every document into consecutive 20-word blocks, keep each
    // distinct chunk's GLOBAL first occurrence only (min (doc_id, pos)),
    // and reassemble documents from their kept chunks — documents whose
    // every chunk already appeared elsewhere vanish entirely (pure
    // boilerplate). Runs over the planted-duplicate corpus so the pass
    // demonstrably fires: a truncated copy's word-aligned prefix chunks
    // are byte-identical to the original's and are all dropped. Scale
    // shape: the chunk explode is map-side; first-occurrence is ONE
    // partial-agg'd groupBy on the chunk string (min(struct) combines
    // map-side, so a boilerplate chunk repeated in millions of docs
    // collapses to one row per input partition BEFORE the exchange — no
    // hot-key window, the hazard that made cap_per_source's first form
    // weak); reassembly is a second partial-agg'd groupBy on doc_id. The
    // synthetic corpus has no newlines, so the chunking rule is the
    // fixed-width word-block stand-in for the reference's real paragraph
    // boundaries — the dedup semantics are delimiter-independent.
    Q(
      "q_dedup_paragraphs",
      (s, d) => {
        val chunkWords = 20
        // bind: the split evaluates ONCE per row — referencing `ws` free
        // inside the transform lambda would re-split the text per chunk.
        val chunks = graft.functions.SimilarityFunctions.bind(split(trim(col("text")), "\\s+")) { w =>
          transform(
            sequence(lit(0), ceil(size(w) / lit(chunkWords.toDouble)).cast("int") - 1),
            i => array_join(slice(w, i * chunkWords + 1, lit(chunkWords)), " ")
          )
        }
        SimilarityQueries
          .corpusWithDups(s, d)
          .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
          .groupBy(col("chunk"))
          .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
          .select(col("first.doc_id").as("doc_id"), col("first.pos").as("pos"), col("chunk"))
          .groupBy(col("doc_id"))
          .agg(
            array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("chunk")))), x => x("chunk")),
              " "
            ).as("text_dedup"),
            count(lit(1)).as("n_kept_chunks")
          )
          .orderBy("doc_id")
      },
      Some(raw"""WITH ${SimilarityQueries.corpusWithDupsSql()},
             |w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM corpus),
             |ch AS (
             |  SELECT doc_id, CAST(i AS INT) AS pos,
             |         array_to_string(ws[i*20+1:i*20+20], ' ') AS chunk
             |  FROM w, unnest(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT))) AS t(i)),
             |k AS (
             |  SELECT doc_id, pos, chunk FROM (
             |    SELECT doc_id, pos, chunk,
             |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
             |    FROM ch) x
             |  WHERE rn = 1)
             |SELECT doc_id,
             |  string_agg(chunk, ' ' ORDER BY pos) AS text_dedup,
             |  COUNT(*) AS n_kept_chunks
             |FROM k GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)
    ),

    // Corpus-LM quality score (the CCNet idea with the corpus itself as the
    // language model): score every document by the mean negative log
    // probability of its word bigrams under corpus-level MLE counts,
    // p̂(w₂|w₁) = c(w₁w₂) / c(w₁) — gibberish and word-salad score high
    // cross-entropy, templated boilerplate scores near zero, and the score
    // needs no external model artifact. c(w₁) is the FULL unigram
    // occurrence count (so p̂ ≤ 1 and the per-bigram surprisal is ≥ 0 by
    // construction). Bigrams keep their multiplicity (explode, not the
    // distinct-shingle kernel — a doc repeating one bigram 50× must pay it
    // 50×). Scale shape mirrors q_collocations: two partial-agg'd count
    // shuffles build the count tables; the per-doc scoring joins are on
    // well-distributed word/bigram keys and corpus-DEPENDENT (web-scale
    // vocabularies are NOT broadcastable — AQE broadcasts only when the
    // measured side fits), then one partial-agg'd per-doc mean. Mean
    // rounded to 3 decimals (q_hourly_rollup precedent) so engine
    // summation order can't flip the driver's float hash.
    Q(
      "q_lm_quality",
      (s, d) => {
        val ws = split(lower(trim(col("text"))), "\\s+")
        // bind + zip_with: the split evaluates once per row (a sequence/
        // element_at build re-evaluates the split per position — O(n²)
        // per document, measured 4× slower end to end at sf0.01).
        val bigrams = graft.functions.SimilarityFunctions.bind(ws) { w =>
          zip_with(
            slice(w, lit(1), size(w) - 1),
            slice(w, lit(2), size(w) - 1),
            (x, y) => concat_ws(" ", x, y)
          )
        }
        val docs = documents(s, d)
        val b = docs.select(col("doc_id"), explode(bigrams).as("bg"))
        val u = docs.select(explode(ws).as("w"))
        val c1 = u.groupBy("w").agg(count(lit(1)).as("c1"))
        val c2 = b.groupBy("bg").agg(count(lit(1)).as("c2"))
        b.join(c2, "bg")
          .withColumn("w1", element_at(split(col("bg"), " "), 1))
          .join(c1, col("w1") === col("w"))
          .groupBy("doc_id")
          .agg(
            round(avg(-log(col("c2") / col("c1"))), 3).as("cross_entropy"),
            count(lit(1)).as("n_bigrams")
          )
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
             |b AS (
             |  SELECT doc_id, ws[i] AS w1, array_to_string(ws[i:i+1], ' ') AS bg
             |  FROM w, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
             |c1 AS (SELECT unnest(ws) AS w FROM w),
             |c1c AS (SELECT w, COUNT(*) AS c1 FROM c1 GROUP BY 1),
             |c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY 1)
             |SELECT b.doc_id,
             |  round(avg(-ln(c2 * 1.0 / c1)), 3) AS cross_entropy,
             |  COUNT(*) AS n_bigrams
             |FROM b JOIN c2 USING (bg) JOIN c1c ON c1c.w = b.w1
             |GROUP BY b.doc_id
             |ORDER BY b.doc_id""".stripMargin)
    ),

    // Tokenizer-aware token accounting: apply a real BPE merge table
    // (GPT-2-style greedy lowest-rank merges, native kernel) instead of
    // the whitespace/regex approximations — token BUDGETS are what a
    // training run actually pays, so packing and mix reports ultimately
    // key off this number. Also emits fertility (BPE tokens per word),
    // the out-of-domain/noise gate real curation pipelines apply (high
    // fertility = the tokenizer fragments the text = it is unlike the
    // tokenizer's training domain). The merge table here is a small
    // deterministic demo list shipped as a plan constant — production
    // broadcasts its tokenizer's merges file through the same parameter,
    // identical kernel and plan. Zero shuffles. No SQL oracle (BPE's
    // iterative merge loop is not SQL-expressible); gated by the
    // reference-implementation property spec + bound specs.
    // Registered form = the banded tokenizer audit (the per-doc budget
    // table is bpeTokenTable, spec-consumed): n_ws_tokens is cross-engine
    // exact (same whitespace split as q_token_count's oracle), and the
    // flags ride the merge loop's invariants through the hash gate —
    // kernel_agree (the count kernel equals the segments kernel's symbol
    // count: two independent native kernels sharing only the scan+merge
    // pipeline), rejoin (stripping the joining spaces rebuilds the
    // lowercased whitespace-free text exactly — a dropped or duplicated
    // symbol anywhere flips it), and bounds (symbols refine whitespace
    // words: n_ws ≤ n_bpe ≤ non-ws char count). BPE's iterative merge
    // loop itself stays non-SQL-expressible; these are the strongest
    // engine-checkable claims it admits.
    Q(
      "q_bpe_tokens",
      (s, d) => {
        val bpe = TextFunctions.bpeTokenCount(col("text"))
        val ws = tokenCount(col("text"))
        val segs = TextFunctions.bpeSegments(col("text"))
        documents(s, d)
          .select(col("doc_id"), col("text"), bpe.as("nb"), ws.as("nw"), segs.as("segs"))
          .select(
            col("doc_id"),
            col("nw").as("n_ws_tokens"),
            (col("nb") === when(length(col("segs")) === 0, lit(0))
              .otherwise(size(split(col("segs"), " ")))).as("kernel_agree_band"),
            (regexp_replace(col("segs"), " ", "") ===
              lower(regexp_replace(col("text"), "\\s+", ""))).as("rejoin_band"),
            when(length(trim(col("text"))) === 0, col("nb") === 0)
              .otherwise(
                col("nb") >= col("nw") &&
                  col("nb") <= length(regexp_replace(col("text"), "\\s+", ""))
              )
              .as("bounds_band")
          )
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
             |  TRUE AS kernel_agree_band, TRUE AS rejoin_band, TRUE AS bounds_band
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // The tokenized form itself (not just its count): each document's BPE
    // symbol sequence under the merge table, space-joined — symbols never
    // contain whitespace (the pre-tokenizer strips it), so the join is
    // unambiguous and engine-portable. With a real merges.txt
    // (TextFunctions.loadBpeMerges) this is the true token stream a
    // training pipeline materializes before id lookup. Map-only, zero
    // shuffles, same bounded plan-constant merge table as q_bpe_tokens.
    // The production table is bpeSegmentsTable (kernel property spec +
    // registry consistency spec consume it directly).
    // Registered form = the per-doc segment-stream audit: the merge loop
    // stays non-SQL-expressible, but the stream's defining invariants are
    // engine-statable against an exact anchor — n_chars_nows (the
    // whitespace-free code-point count, cross-engine exact) plus flags the
    // hash gate rides: rejoin (concatenating the symbols rebuilds the
    // lowercased whitespace-free text EXACTLY — a dropped, duplicated, or
    // reordered symbol anywhere flips it), count_agree (the independent
    // count kernel equals the stream's symbol count), and wellformed (no
    // empty symbols: the space-join has no leading/trailing/double
    // spaces). Distinct anchor from q_bpe_tokens' audit (ws-token count
    // there, ws-free char count here), so the two gates cross-check
    // different exact quantities.
    Q(
      "q_bpe_segments",
      (s, d) => {
        // Same kernels as bpeSegmentsTable, inlined against the text so the
        // audit stays ONE map-only scan (a join with the production table
        // would shuffle what is a per-row claim).
        documents(s, d)
          .select(
            col("doc_id"),
            col("text"),
            TextFunctions.bpeSegments(col("text")).as("segments"),
            TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
          .select(
            col("doc_id"),
            length(regexp_replace(col("text"), "\\s+", "")).as("n_chars_nows"),
            (regexp_replace(col("segments"), " ", "") ===
              lower(regexp_replace(col("text"), "\\s+", ""))).as("rejoin_band"),
            (when(col("segments") === "", lit(0))
              .otherwise(size(split(col("segments"), " "))) === col("n_bpe_tokens"))
              .as("count_agree_band"),
            (!col("segments").rlike("(^ )|( $)|(  )")).as("wellformed_band")
          )
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS INT) AS n_chars_nows,
             |  TRUE AS rejoin_band, TRUE AS count_agree_band, TRUE AS wellformed_band
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // BPE merge TRAINING — the third of the tokenizer lifecycle the two
    // queries above apply and q_token_ids consumes: learn the merge table
    // from the corpus itself (the public Sennrich learn_bpe algorithm —
    // the one GPT-2's merges.txt was built with). Scale split is the
    // trainer-family contract: the corpus collapses to its pre-token
    // word-frequency dictionary through ONE partial-agg'd groupBy (the
    // only corpus-scale work — map-side combine makes the exchange
    // vocabulary-sized), and the merge loop runs over the bounded
    // top-4096 dictionary head driver-side (the kmeans/PQ/classifier
    // bounded-sample pattern). Registered form = the banded training
    // audit: the DICTIONARY layer is cross-engine EXACT — dict_words,
    // the top word + its count, and the FIRST learned merge + its pair
    // count are all independently re-derived by DuckDB from the same
    // pre-tokenization (regexp alternation = the kernel's scan; every
    // tie breaks in UTF-8 byte order on both engines) — so a drifted
    // tokenizer scan, a wrong pair count, or a broken tie-break flips
    // the hash. The iterative loop beyond rank 0 is not SQL-expressible;
    // its invariants ride the flags: deterministic (a second training
    // run returns the identical table), wellformed (every merge's
    // symbols are single code points or products of EARLIER merges —
    // prefix closure, what makes greedy application sound), and
    // compresses (the learned table strictly reduces total corpus tokens
    // vs the unmerged baseline through the NATIVE apply kernel — train
    // and apply segmentation proven drift-free end-to-end).
    Q(
      "q_bpe_train",
      (s, d) => {
        import graft.operators.BpeTrainer
        val k = 32
        val maxDict = 4096
        val dict = BpeTrainer.wordFrequencies(documents(s, d), col("text"), maxDict)
        val learned = BpeTrainer.learnMerges(dict, k)
        val merges = learned.map(_._1)
        val again = BpeTrainer.learnMerges(dict, k).map(_._1)
        val (topWord, topCount) = dict.head
        documents(s, d)
          .agg(
            sum(TextFunctions.bpeTokenCount(col("text"), merges)).as("t_merged"),
            sum(TextFunctions.bpeTokenCount(col("text"), Seq.empty)).as("t_base"))
          .select(
            lit(dict.size).as("dict_words"),
            lit(topWord).as("top_word"),
            lit(topCount).as("top_word_count"),
            lit(merges.head).as("first_pair"),
            lit(learned.head._2).as("first_pair_count"),
            lit(merges.size).as("n_merges"),
            lit(merges == again).as("deterministic_band"),
            lit(BpeTrainer.wellFormed(merges)).as("wellformed_band"),
            (col("t_merged") < col("t_base")).as("compresses_band"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(regexp_extract_all(lower(text),
             |    '''(?:s|t|m|d|re|ve|ll)|\p{L}+|\p{N}+|[^\s\p{L}\p{N}]+')) AS w
             |  FROM documents),
             |dict AS (
             |  SELECT w, COUNT(*) AS c FROM toks GROUP BY w
             |  ORDER BY c DESC, w LIMIT 4096),
             |pairs AS (
             |  SELECT substr(w, CAST(i AS INT), 1) || ' ' || substr(w, CAST(i AS INT) + 1, 1) AS pair,
             |         CAST(SUM(c) AS BIGINT) AS pc
             |  FROM dict, unnest(range(1, length(w))) AS t(i)
             |  WHERE length(w) >= 2
             |  GROUP BY 1),
             |best AS (SELECT pair, pc FROM pairs ORDER BY pc DESC, pair LIMIT 1),
             |top AS (SELECT w, c FROM dict ORDER BY c DESC, w LIMIT 1)
             |SELECT (SELECT CAST(COUNT(*) AS INT) FROM dict) AS dict_words,
             |  top.w AS top_word, top.c AS top_word_count,
             |  best.pair AS first_pair, best.pc AS first_pair_count,
             |  32 AS n_merges,
             |  TRUE AS deterministic_band, TRUE AS wellformed_band,
             |  TRUE AS compresses_band
             |FROM top, best""".stripMargin)
    ),

    // Heavy-hitter word counts via Count-Min sketch — the missing member of
    // the sketch family (HLL++ distinct profile, Bloom membership, minhash/
    // simhash similarity; CMS = frequency): estimate per-word occurrence
    // counts from ONE distributed treeAggregate into a ~KB sketch, probed
    // driver-side for a bounded watch-list (here the language-marker
    // vocabulary — in production, stopword/boilerplate watch-lists). At
    // 100 TB this replaces a full word-count shuffle with a fixed-size
    // mergeable aggregate — the exact trade q_profile_approx makes for
    // distinct counts. Deterministic (fixed seed), so the spec's CMS
    // guarantee check (est ≥ true, est ≤ true + ε·N) is reproducible, not
    // probabilistic-flaky. DuckDB has no CMS, so the query is a banded
    // exact-vs-sketch REPORT (the q_group_quantiles_approx pattern): per
    // probe word, the exact count (cross-engine hash-checked — whitespace
    // tokenization parity is established by q_token_count) plus
    // cms_in_bound — the fixed-seed estimate inside [exact, exact + ε·N].
    // The oracle states the bound claim as TRUE; a sketch violating the
    // Count-Min guarantee flips the flag and fails the hash gate. The
    // bound spec additionally checks the raw estimates inline.
    Q(
      "q_heavy_hitters",
      (s, d) => {
        import s.implicits._
        val words = documents(s, d)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        val cms = words.stat.countMinSketch("w", eps = 0.001, confidence = 0.99, seed = 42)
        val slack = (0.001 * cms.totalCount).toLong + 1
        val probes = TextFunctions.langMarkers.flatMap(_._2).distinct.sorted
        val est = probes.map(w => (w, cms.estimateCount(w))).toDF("word", "est_count")
        val exact = words
          .filter(col("w").isin(probes: _*))
          .groupBy(col("w").as("word"))
          .agg(count(lit(1)).as("exact_count"))
        est
          .join(exact, Seq("word"), "left")
          .select(
            col("word"),
            coalesce(col("exact_count"), lit(0L)).as("exact_count"),
            (col("est_count") >= coalesce(col("exact_count"), lit(0L)) &&
              col("est_count") <= coalesce(col("exact_count"), lit(0L)) + lit(slack))
              .as("cms_in_bound"))
          .orderBy("word")
      },
      Some {
        val probeList = TextFunctions.langMarkers.flatMap(_._2).distinct.sorted
          .map(w => s"'$w'").mkString(", ")
        s"""WITH w AS (
           |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
           |  FROM documents),
           |p AS (SELECT unnest([$probeList]) AS word),
           |c AS (SELECT word, COUNT(*) AS exact_count FROM w GROUP BY 1)
           |SELECT p.word, COALESCE(c.exact_count, 0) AS exact_count,
           |  TRUE AS cms_in_bound
           |FROM p LEFT JOIN c USING (word) ORDER BY word""".stripMargin
      }
    ),

    // Corpus mix report — the per-(lang, source) composition table every
    // curation run publishes: doc count, share of corpus, token volume.
    // One partial-agg'd shuffle + a broadcast 1-row total; share divides
    // exact longs as doubles, identical across engines.
    Q(
      "q_mix_report",
      (s, d) => {
        val docs = documents(s, d)
        val total = docs.agg(count(lit(1)).as("n_total"))
        docs
          .groupBy("lang", "source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(floor(col("n_chars") / 4.0).cast("long")).as("n_tokens")
          )
          .crossJoin(broadcast(total))
          .select(
            col("lang"), col("source"), col("n_docs"),
            (col("n_docs") / col("n_total")).as("share"),
            col("n_tokens")
          )
      },
      Some("""WITH t AS (SELECT COUNT(*) AS n_total FROM documents)
             |SELECT lang, source, COUNT(*) AS n_docs,
             |  COUNT(*) / n_total AS share,
             |  CAST(SUM(CAST(floor(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS n_tokens
             |FROM documents, t
             |GROUP BY lang, source, n_total""".stripMargin)
    ),

    // Bytes-first charset detection (the r15 verdict's item 4 — a real
    // crawl yields BYTES plus a charset guess, while every text operator
    // here starts from decoded strings; this is the step between): a
    // BINARY column synthesized deterministically from documents plants
    // six arms — UTF-8 BOM'd, plain UTF-8 with a multibyte char, UTF-16LE
    // BOM'd, a Latin-1 é byte, a truncated UTF-8 lead byte, an overlong
    // C0 A0 sequence — and the detector runs the real cascade: BOM sniff
    // (hex prefix compare on the binary), STRUCTURAL UTF-8 validation of
    // the post-BOM payload (Spark's is_valid_utf8 — a full state-machine
    // check that rejects overlong forms, truncated sequences, and stray
    // continuation bytes, not a heuristic), windows-1252 fallback. BOM
    // precedes validation on purpose: UTF-16LE-encoded ASCII is
    // structurally VALID UTF-8 (NUL bytes are legal), so a
    // validation-first detector mislabels every UTF-16 document — the
    // planted arm pins that ordering (its valid_utf8 is TRUE, its charset
    // is utf-16le). Everything is codegen'd builtins over one scan — zero
    // shuffles, a pure map pass at 100 TB. The oracle states each arm's
    // ground truth directly (BOM, validity, charset) and n_bytes through
    // DuckDB's own byte arithmetic, so a synthesis, BOM-order, or
    // validation defect flips the hash.
    Q(
      "q_charset_detect",
      (s, d) => {
        val arm = pmod(col("doc_id"), lit(6))
        val base = encode(col("text"), "UTF-8")
        val b = when(arm === 0, concat(unhex(lit("EFBBBF")), base))
          .when(arm === 1, concat(base, encode(lit(" é"), "UTF-8")))
          .when(arm === 2, concat(unhex(lit("FFFE")), encode(lit("hello"), "UTF-16LE")))
          .when(arm === 3, concat(base, unhex(lit("E9"))))
          .when(arm === 4, concat(base, unhex(lit("C3"))))
          .otherwise(concat(base, unhex(lit("C0A0"))))
        documents(s, d)
          .select(col("doc_id"), b.as("b"))
          .withColumn("det", charsetCascade(col("b")))
          .select(
            col("doc_id"),
            length(col("b")).cast("long").as("n_bytes"),
            col("det.bom").as("bom"),
            col("det.valid_utf8").as("valid_utf8"),
            col("det.charset").as("charset"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 6 AS arm,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS tb
             |  FROM documents)
             |SELECT doc_id,
             |  CASE arm WHEN 0 THEN tb + 3 WHEN 1 THEN tb + 3 WHEN 2 THEN 12
             |           WHEN 3 THEN tb + 1 WHEN 4 THEN tb + 1 ELSE tb + 2 END AS n_bytes,
             |  CASE WHEN arm = 0 THEN 'utf-8' WHEN arm = 2 THEN 'utf-16' END AS bom,
             |  arm IN (0, 1, 2) AS valid_utf8,
             |  CASE WHEN arm = 2 THEN 'utf-16le'
             |       WHEN arm IN (0, 1) THEN 'utf-8'
             |       ELSE 'windows-1252' END AS charset
             |FROM d ORDER BY doc_id""".stripMargin)
    ),

    // Charset DECODE — what the detection exists for (q_charset_detect
    // says which charset; this row runs the decode it licenses and proves
    // the round trip): each planted arm's bytes decode through the
    // charset the cascade detected — UTF-8 arms through decode(_,
    // 'UTF-8') (only ever reached on structurally valid payloads, so
    // Spark 4's strict malformed-input error cannot fire), the UTF-16LE
    // arm through its own codec, and the fallback arms through
    // ISO-8859-1, the total single-byte decode that never fails and maps
    // chars 1:1 onto bytes (the classic crawl salvage). The per-arm
    // round-trip CLAIM differs by arm and is stated explicitly: BOM'd /
    // plain UTF-8 arms must reproduce the original text exactly, the
    // UTF-16 arm its fixed payload, and the fallback arms the 1:1
    // char-per-byte law (for them the decode is lossy BY DESIGN — the
    // mojibake q_encoding_artifacts downstream exists to catch — so the
    // honest claim is the length law, not text equality). decoded_chars
    // is the exact cross-engine anchor per row: DuckDB restates it from
    // each arm's ground truth without running any decoder. One codegen'd
    // map pass, zero shuffles.
    Q(
      "q_charset_decode",
      (s, d) => {
        val arm = pmod(col("doc_id"), lit(6))
        val base = encode(col("text"), "UTF-8")
        val b = when(arm === 0, concat(unhex(lit("EFBBBF")), base))
          .when(arm === 1, concat(base, encode(lit(" é"), "UTF-8")))
          .when(arm === 2, concat(unhex(lit("FFFE")), encode(lit("hello"), "UTF-16LE")))
          .when(arm === 3, concat(base, unhex(lit("E9"))))
          .when(arm === 4, concat(base, unhex(lit("C3"))))
          .otherwise(concat(base, unhex(lit("C0A0"))))
        documents(s, d)
          .select(col("doc_id"), col("text"), b.as("b"))
          .withColumn("det", charsetCascade(col("b")))
          .withColumn(
            "decoded",
            when(col("det.charset") === "utf-8",
              when(col("det.bom") === "utf-8", decode(substring(col("b"), 4, Int.MaxValue), "UTF-8"))
                .otherwise(decode(col("b"), "UTF-8")))
              .when(col("det.charset") === "utf-16le",
                decode(substring(col("b"), 3, Int.MaxValue), "UTF-16LE"))
              .otherwise(decode(col("b"), "ISO-8859-1")))
          .select(
            col("doc_id"),
            col("det.charset").as("charset"),
            length(col("decoded")).cast("long").as("decoded_chars"),
            when(pmod(col("doc_id"), lit(6)) === 0, col("decoded") === col("text"))
              .when(pmod(col("doc_id"), lit(6)) === 1,
                col("decoded") === concat(col("text"), lit(" é")))
              .when(pmod(col("doc_id"), lit(6)) === 2, col("decoded") === "hello")
              .otherwise(length(col("decoded")).cast("long") === length(col("b")).cast("long"))
              .as("roundtrip_ok"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id % 6 AS arm,
             |    CAST(length(text) AS BIGINT) AS tc,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS tb
             |  FROM documents)
             |SELECT doc_id,
             |  CASE WHEN arm = 2 THEN 'utf-16le'
             |       WHEN arm IN (0, 1) THEN 'utf-8'
             |       ELSE 'windows-1252' END AS charset,
             |  CASE arm WHEN 0 THEN tc WHEN 1 THEN tc + 2 WHEN 2 THEN 5
             |           WHEN 3 THEN tb + 1 WHEN 4 THEN tb + 1 ELSE tb + 2 END AS decoded_chars,
             |  TRUE AS roundtrip_ok
             |FROM d ORDER BY doc_id""".stripMargin)
    ),

    // Encoding-artifact detection — the ingest-hygiene gate a web-scale
    // corpus needs before any hashing or tokenization: U+FFFD replacement
    // chars (decoder already lost bytes), C0 control chars (binary
    // spillage), and the Ã/Â mojibake signature of UTF-8 read as
    // Latin-1. Counts are plain replace/length arithmetic plus one
    // regexp_replace — all codegen'd, zero shuffles, and the identical
    // expressions run in DuckDB so every count hash-checks. At 100 TB
    // this is a pure map pass over the scan; the flag column is the
    // quarantine predicate (q_quarantine's split applies downstream).
    Q(
      "q_encoding_artifacts",
      (s, d) => {
        val t = col("text")
        def cnt(marker: String) =
          length(t) - length(replace(t, lit(marker), lit("")))
        val ctl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
        documents(s, d).select(
          col("doc_id"),
          cnt("�").as("n_replacement"),
          (length(t) - length(regexp_replace(t, ctl, ""))).as("n_control"),
          (cnt("Ã") + cnt("Â")).as("n_mojibake"),
          (cnt("�") === 0 &&
            length(t) - length(regexp_replace(t, ctl, "")) === 0 &&
            cnt("Ã") + cnt("Â") === 0).as("is_clean")
        )
      },
      Some("""SELECT doc_id,
             |  length(text) - length(replace(text, '�', '')) AS n_replacement,
             |  length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_control,
             |  (length(text) - length(replace(text, 'Ã', '')))
             |    + (length(text) - length(replace(text, 'Â', ''))) AS n_mojibake,
             |  (length(text) - length(replace(text, '�', ''))) = 0
             |    AND (length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'))) = 0
             |    AND ((length(text) - length(replace(text, 'Ã', '')))
             |       + (length(text) - length(replace(text, 'Â', '')))) = 0 AS is_clean
             |FROM documents""".stripMargin)
    ),

    // Out-of-vocabulary rate — the "is this text like my corpus" quality
    // signal (high OOV = noise, wrong language, or heavy jargon; the
    // cheap cousin of fertility). "Rare" is CORPUS-RELATIVE and integer-
    // exact: a word is OOV when 20·c(w) < max_w c(w) (under 5% of the
    // modal word) — no absolute cutoff to retune per corpus, no
    // float-ordered top-K (tie-deterministic, the q_collocations
    // decision). Same corpus-dependent vocab-join shape as q_lm_quality:
    // one word-count shuffle, the occurrence→count join (AQE broadcasts
    // the vocab side only when its measured size fits; web-scale
    // vocabularies shuffle-join on the word key), a broadcast 1-row max,
    // one per-doc partial agg.
    Q(
      "q_oov_rate",
      (s, d) => {
        val ws = split(lower(trim(col("text"))), "\\s+")
        val u = documents(s, d).select(col("doc_id"), explode(ws).as("w"))
        val cw = u.groupBy("w").agg(count(lit(1)).as("cw"))
        val thr = cw.agg(max(col("cw")).as("maxc"))
        u.join(cw, "w")
          .crossJoin(broadcast(thr))
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(when(col("cw") * 20 < col("maxc"), 1L).otherwise(0L)).as("n_oov")
          )
          .select(
            col("doc_id"),
            col("n_tokens"),
            col("n_oov"),
            round(col("n_oov") * lit(1.0) / col("n_tokens"), 4).as("oov_rate")
          )
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
             |  FROM documents),
             |cw AS (SELECT w, COUNT(*) AS cw FROM w GROUP BY 1),
             |t AS (SELECT MAX(cw) AS maxc FROM cw)
             |SELECT doc_id, COUNT(*) AS n_tokens,
             |  CAST(SUM(CASE WHEN cw * 20 < maxc THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  round(SUM(CASE WHEN cw * 20 < maxc THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS oov_rate
             |FROM w JOIN cw USING (w), t
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Compression-ratio junk detection — the cheapest strong quality
    // signal in production curation stacks (templated boilerplate
    // compresses far below prose; random/binary spillage sits near 1.0):
    // flag both tails. One native Deflater pass per row inside codegen,
    // zero shuffles. DEFLATE output is not SQL-expressible in the oracle
    // engine, so the kernel is gated by property specs (repetitive ≪
    // prose < random ordering, bounds, determinism — never exact ratios,
    // so a zlib revision can't flip them) and the flags here use wide,
    // property-safe cutoffs.
    // Registered form = the banded DEFLATE audit (the per-doc ratio/tail
    // table is compressionRatioTable): n_bytes is cross-engine exact
    // (octet_length, the q_multimodal_meta parity), and the flags state
    // properties ANY conforming DEFLATE holds — the ratio is bounded by
    // stored-block worst-case framing (zlib header 2 + adler 4 + 5 per
    // stored block ≤ 16 bytes at corpus doc sizes, so r ≤ 1 + 16/n — a
    // FIXED 1.1 cap would be implementation-independent only for long
    // docs; a ~50-byte incompressible doc legitimately exceeds it), and
    // doubling the text never compresses WORSE (the second copy is one
    // 32 KB-window back-reference), so a broken kernel (truncated
    // stream, wrong length accounting) flips a flag while a zlib
    // revision cannot.
    Q(
      "q_compression_ratio",
      (s, d) => {
        val r = TextFunctions.deflateRatio(col("text"))
        val r2 = TextFunctions.deflateRatio(concat(col("text"), col("text")))
        documents(s, d)
          .select(col("doc_id"), octet_length(col("text")).as("n_bytes"), r.as("r"), r2.as("r2"))
          .select(
            col("doc_id"),
            col("n_bytes"),
            // Worst-case conforming zlib output is 2 (header) + 4 (adler)
            // + 5 per 65535-byte stored block; the band adds slack on the
            // fixed part so it is safe at EVERY length — a flat 16-byte
            // allowance breaks above ~128 KB where a second stored block
            // adds its own 5-byte header.
            (col("r") > 0.0 &&
              col("r") <= lit(1.0) +
              (lit(16.0) + lit(5.0) * ceil(col("n_bytes").cast("double") / 65535.0)) /
              greatest(col("n_bytes").cast("double"), lit(1.0)))
              .as("ratio_band"),
            (col("r2") <= col("r") + 1e-9).as("doubling_band")
          )
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             |  TRUE AS ratio_band, TRUE AS doubling_band
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),

    // Model-based quality filtering — the fastText-style classifier every
    // production curation stack runs (CCNet/LLaMA-style): train a cheap
    // linear model on a LABELED SAMPLE, then score the whole corpus with
    // one map pass. Training is bounded driver state (1024 docs → 4096
    // weight doubles, see TextClassifier); serving is the native fused
    // hash+dot kernel, zero shuffles — at 100 TB the cost is exactly one
    // codegen'd scan. Here the sample's teacher label is the `lang`
    // column standing in for a human/LLM quality label; the driver
    // corpus's synthetic labels carry no text signal (marker-word argmax
    // lands at ~32% on them), so scores on THIS corpus sit near the base
    // rate by design — the learning machinery itself is gated on a
    // planted separable corpus plus loss-decreases, determinism, and
    // no-shuffle plan pins (ClassifierSpec), the same honesty split the
    // k-means suite uses for its purity-free gates.
    // Registered form = the banded classifier audit: the learning
    // machinery's contract is stated as engine-checkable flags — planted
    // holdout accuracy ≥ 0.95 and loss-falls-with-epochs on the shared
    // TextClassifier.plantedCorpus (the driver corpus's labels carry no
    // text signal, so accuracy gates live on the planted separable
    // corpus), bit-determinism of two independent trainings, and corpus-
    // scan claims over the production score table (every doc scored, all
    // sigmoid outputs in [0,1], keep ⇔ score ≥ 0.5). n_docs is the
    // cross-engine exact anchor. A broken featurizer, SGD step, or serving
    // kernel flips a flag and fails the driver hash gate. The stronger
    // bit-level gates (kernel == trainer math, stream/batch parity,
    // no-shuffle plan pin on the production table) stay in ClassifierSpec.
    Q(
      "q_quality_classifier",
      (s, d) => {
        import graft.operators.TextClassifier
        val planted  = TextClassifier.plantedCorpus
        val trainSet = planted.take(300)
        val holdout  = planted.drop(300)
        val m1 = TextClassifier.train(trainSet)
        val m2 = TextClassifier.train(trainSet)
        val acc = holdout.count { case (t, y) => (m1.score(t) >= 0.5) == y }.toDouble / holdout.size
        val l1  = TextClassifier.logLoss(TextClassifier.train(trainSet, epochs = 1), trainSet)
        val l30 = TextClassifier.logLoss(m1, trainSet)
        val deterministic =
          m1.bias == m2.bias && java.util.Arrays.equals(m1.weights, m2.weights)
        qualityScores(s, d)
          .agg(
            count(lit(1)).as("n_scored"),
            sum(when(col("score") >= 0.0 && col("score") <= 1.0, 0L).otherwise(1L)).as("n_oor"),
            // keep was decided on the UNROUNDED score; the egressed column
            // is rounded to 6 dp, so scores within half a rounding step of
            // the 0.5 boundary are exempt from the consistency claim.
            sum(when(col("keep") === (col("score") >= 0.5) ||
              abs(col("score") - 0.5) <= 5e-7, 0L).otherwise(1L)).as("n_inconsistent")
          )
          .crossJoin(broadcast(documents(s, d).agg(count(lit(1)).as("n_docs"))))
          .select(
            col("n_docs"),
            lit(400).as("n_planted"),
            lit(acc >= 0.95).as("holdout_accuracy_band"),
            lit(l30 < l1).as("loss_decreases_band"),
            lit(deterministic).as("determinism_band"),
            (col("n_scored") === col("n_docs") && col("n_oor") === 0L).as("scores_in_range_band"),
            (col("n_inconsistent") === 0L).as("keep_consistent_band")
          )
      },
      Some("""SELECT COUNT(*) AS n_docs, 400 AS n_planted,
             |  TRUE AS holdout_accuracy_band, TRUE AS loss_decreases_band,
             |  TRUE AS determinism_band, TRUE AS scores_in_range_band,
             |  TRUE AS keep_consistent_band
             |FROM documents""".stripMargin)
    ),

    // Fixed-size overlapping chunking (the RAG / context-window prep
    // staple): each document splits into 200-char windows advancing by
    // 150 (50-char overlap so no boundary-spanning phrase is lost to
    // retrieval). Pure generate+project — sequence() enumerates chunk
    // starts, posexplode fans them out, substring slices — all codegen
    // builtins, ZERO shuffle: chunking 100 TB of text is embarrassingly
    // parallel and this plan keeps it that way (PlanAuditSpec pins
    // no-Exchange). The empty-text guard (greatest(len−1, 0)) keeps
    // sequence() legal and emits one empty chunk rather than failing the
    // corpus on a blank row.
    Q(
      "q_chunk_docs",
      (s, d) => {
        val size = 200
        val stride = 150
        documents(s, d)
          .select(
            col("doc_id"),
            col("text"),
            posexplode(sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(stride)))
              .as(Seq("chunk_id", "start")))
          .select(
            col("doc_id"),
            col("chunk_id"),
            expr(s"substring(text, start + 1, $size)").as("chunk"))
          .withColumn("n_chars", length(col("chunk")))
      },
      Some("""WITH starts AS (
             |  SELECT doc_id, text,
             |    unnest(range(0, greatest(length(text), 1), 150)) AS start
             |  FROM documents)
             |SELECT doc_id, CAST(start // 150 AS INT) AS chunk_id,
             |  substr(text, CAST(start + 1 AS INT), 200) AS chunk,
             |  length(substr(text, CAST(start + 1 AS INT), 200)) AS n_chars
             |FROM starts""".stripMargin)
    ),

    // TOKEN-budget chunking — q_chunk_docs' RAG sibling on the axis a
    // context window actually meters: each document's token array splits
    // into 50-token windows advancing by 40 (10-token overlap). Same
    // zero-shuffle generate+project shape (sequence() enumerates starts,
    // posexplode fans out, slice+array_join rebuild the chunk text) over
    // the q_token_ids tokenization (lower/trim/split/filter-empty), so
    // budget semantics line up with the vocab/token-id chain. The whole
    // derivation is SQL-expressible → exact cross-engine oracle (DuckDB
    // restates it over the same token lists). The production tokenizer
    // swap-in is BPE: ChunkBpeCompositionSpec drives THIS chunking rule
    // over bpeSegments arrays and pins the budget/overlap/rejoin
    // invariants there (the merge loop itself isn't SQL-expressible).
    // Empty docs keep one empty chunk — the q_chunk_docs guard.
    Q(
      "q_chunk_tokens",
      (s, d) =>
        chunkTokenArray(documents(s, d), wsTokenArray(col("text")), budget = 50, stride = 40),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, toks,
             |    unnest(range(0, greatest(len(toks), 1), 40)) AS start
             |  FROM t)
             |SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
             |  array_to_string(toks[CAST(start + 1 AS INT):CAST(start + 50 AS INT)], ' ') AS chunk,
             |  CAST(len(toks[CAST(start + 1 AS INT):CAST(start + 50 AS INT)]) AS INT) AS n_tokens
             |FROM s""".stripMargin)
    ),

    // Vocabulary construction (the tokenizer / embedding-table prep
    // step): top-V whitespace tokens by corpus frequency with
    // deterministic contiguous ids ((count desc, token asc) tie-break —
    // the id assignment every embedding table needs to be reproducible).
    // The count is one partial-agg'd shuffle bounded by DISTINCT tokens
    // (≪ corpus rows at any scale); top-V is orderBy+limit, which Spark
    // plans as TakeOrderedAndProject (per-partition heaps, no global
    // sort); only the V-row result crosses the single-partition rank
    // window. V is a bounded parameter, never corpus-proportional.
    Q(
      "q_vocab_build",
      (s, d) => {
        val v = 200
        val toks = documents(s, d)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
          .filter(length(col("token")) > 0)
        val top = toks
          .groupBy("token")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(v)
        // V-row domain: non-foldable-zero partition key = same
        // single-partition plan, minus WindowExec's no-partition warning
        // (bounded-domain claim made structural; a literal would be
        // constant-folded out of the spec).
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(graft.operators.EtlOps.boundedWindowKey(col("n")))
          .orderBy(col("n").desc, col("token"))
        top
          .withColumn("token_id", row_number().over(w))
          .select("token_id", "token", "n")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents),
             |counts AS (
             |  SELECT token, COUNT(*) AS n FROM toks WHERE length(token) > 0
             |  GROUP BY 1 ORDER BY n DESC, token LIMIT 200)
             |SELECT row_number() OVER (ORDER BY n DESC, token) AS token_id, token, n
             |FROM counts""".stripMargin)
    ),

    // Token-id stream — the join the tokenize→vocab chain was building
    // toward and the actual trainer input: every document as its ordered
    // token-id sequence under q_vocab_build's EXACT vocabulary (same
    // (count desc, token asc) contiguous ids), OOV → unk id 0. The
    // whole derivation is SQL-expressible, so the stream itself — ids in
    // order, token and OOV counts — is cross-engine hash-checked, not
    // banded. Plan shape (pinned): the vocab collapses to a V-entry map
    // literal and the lookup runs per element inside one transform over
    // the unexploded token array — the corpus scan has NO join and NO
    // exchange; empty docs keep a row (n_tokens 0, ids '') because
    // nothing ever explodes. The oracle rebuilds the vocab, explodes
    // positionally, left-joins, and re-aggregates ordered — same stream.
    Q(
      "q_token_ids",
      (s, d) => tokenIdStream(documents(s, d), col("text"), trainWsVocab(s, d, v = 200)),
      Some("""WITH toks AS (
             |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents),
             |counts AS (
             |  SELECT token, COUNT(*) AS n FROM toks WHERE length(token) > 0
             |  GROUP BY 1 ORDER BY n DESC, token LIMIT 200),
             |vocab AS (
             |  SELECT row_number() OVER (ORDER BY n DESC, token) AS token_id, token
             |  FROM counts),
             |dt AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS token,
             |    unnest(range(1, 1 + length(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)))) AS pos
             |  FROM documents),
             |ids AS (
             |  SELECT doc_id, pos, COALESCE(v.token_id, 0) AS tid
             |  FROM dt LEFT JOIN vocab v USING (token)),
             |agg AS (
             |  SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |    CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |    string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
             |  FROM ids GROUP BY doc_id)
             |SELECT d.doc_id,
             |  COALESCE(a.n_tokens, 0) AS n_tokens,
             |  COALESCE(a.n_oov, 0) AS n_oov,
             |  COALESCE(a.ids, '') AS ids
             |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)
    ),

    // Inverted-index build — the posting-list summary a corpus search /
    // retrieval layer materializes per term (df, collection frequency,
    // max tf, and the top-scoring doc). Scale shape: TWO partial-agg'd
    // shuffles and nothing else — (term, doc) tf combines map-side
    // (tokens repeat within a doc's partition), then the term-level
    // rollup combines again, so a 100 TB corpus reduces to
    // O(distinct-term) state and the per-term "best doc" rides the SAME
    // aggregate as a lexicographic max(struct(tf, -doc_id)) — no window,
    // no second join against the tf table, no hot reducer beyond the
    // term key itself (stopword-grade terms still combine map-side
    // before the exchange). The oracle restates best-doc as a
    // row_number window — same rows, different plan, which is the point.
    Q(
      "q_inverted_index",
      (s, d) => invertedIndex(documents(s, d)).orderBy("term"),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS term
             |  FROM documents),
             |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |r AS (SELECT term, doc_id, tf,
             |        row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
             |      FROM tf)
             |SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
             |  CAST(MAX(tf) AS BIGINT) AS max_tf,
             |  MIN(CASE WHEN rk = 1 THEN doc_id END) AS top_doc
             |FROM r GROUP BY term ORDER BY term""".stripMargin)
    ),

    // BM25 ranked retrieval (Robertson/Sparck Jones; the Okapi scoring
    // behind Lucene/Elasticsearch defaults, k1 = 1.2, b = 0.75) for a
    // fixed query over the corpus — retrieval-based quality filtering and
    // targeted decontamination both reduce to exactly this scan. Scale
    // shape: because the query's terms are a bounded plan parameter, tf
    // per term is a row-local size(filter(tokens)) — the corpus NEVER
    // explodes and never shuffles; corpus stats (N, avgdl, per-term df)
    // collapse to ONE 1-row aggregate broadcast-cross-joined back (the
    // q_tfidf N pattern), matched docs filter BEFORE scoring, and top-k
    // is a TakeOrderedAndProject (no global sort materializes). The
    // doc-length sums are integer-valued doubles, so avgdl is exact and
    // order-independent; ln() is IEEE-identical across engines (the
    // q_tfidf contract) and the three per-term contributions add in
    // FIXED textual order on both sides, so the rounded score
    // hash-matches.
    Q(
      "q_bm25",
      (s, d) => bm25Rank(documents(s, d), Seq("spark", "merge", "window"), k = 20),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS DOUBLE) AS dl,
             |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'spark')) AS DOUBLE) AS tf0,
             |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'merge')) AS DOUBLE) AS tf1,
             |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x = 'window')) AS DOUBLE) AS tf2
             |  FROM documents),
             |g AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
             |    CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
             |  FROM p)
             |SELECT doc_id,
             |  round(
             |    ln((n - df0 + 0.5) / (df0 + 0.5) + 1.0) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |    + ln((n - df1 + 0.5) / (df1 + 0.5) + 1.0) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
             |    + ln((n - df2 + 0.5) / (df2 + 0.5) + 1.0) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
             |    6) AS score,
             |  (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
             |   + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS n_matched
             |FROM p, g
             |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)
    ),

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack/Clarke/Buettcher
    // RRF, the default fusion in modern lexical+vector search stacks):
    // fuse the BM25 top-20 (q_bm25's scorer, same terms) with the
    // embedding-cosine top-20 for the matching query vector by
    // score = Σ 1/(60 + rank), missing list contributes 0. Scale shape:
    // each arm ends in a TakeOrderedAndProject (top-k only — no global
    // sort materializes, corpus never shuffles on either arm: BM25 is
    // row-local tf + a 1-row broadcast stats join, cosine is one compiled
    // kernel against a 1-row broadcast query vector), so the rank windows
    // and the full-outer fusion join run over two ≤k-row sets — driver-
    // scale by construction, bounded by k not the corpus. Ranks are
    // INTs on both sides (CAST in the oracle — the q_stream_topk
    // convention); the two RRF terms add in fixed textual order as IEEE
    // doubles (explicit DOUBLE casts keep DuckDB out of decimal
    // division), then round to 6 dp.
    Q(
      "q_hybrid_rrf",
      (s, d) => hybridRrfFused(s, d),
      Some(s"""WITH $rrfOracleCtes
              |SELECT doc_id, rrf_score, r_lex, r_sem
              |FROM fused ORDER BY rrf_score DESC, doc_id""".stripMargin)
    ),

    // Rerank — the second stage every production retrieval stack runs after
    // fusion (retrieve wide and cheap, rerank narrow and expensive). A real
    // deployment scores (query, doc) pairs with a cross-encoder; this is
    // that stage's Spark plumbing with a DETERMINISTIC linear scorer in the
    // model slot (the TextClassifier pattern — swap `rerank_score`'s
    // expression for a model UDF and nothing else changes): term-frequency
    // total, query-term coverage, a length prior, and the fused RRF score
    // as features. Scale shape: the candidate set is the RRF top-10, so the
    // feature join is a ≤k-row BROADCAST against the documents scan (one
    // map pass, no shuffle — a deployment with a keyed doc store does a
    // point fetch instead; either way cost is bounded by ONE pruned scan)
    // and the scorer + rerank window run over k rows — bounded by k, never
    // the corpus. Fixed textual order for the float feature sum; round 6.
    Q(
      "q_rerank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cands = hybridRrfFused(s, d)
        val feats = withTermFeatures(
          documents(s, d)
            .select(col("doc_id"), col("text"))
            .join(broadcast(cands), Seq("doc_id")),
          rrfQueryTerms)
        val tfTotal = col("tf0") + col("tf1") + col("tf2")
        val coverage = rrfQueryTerms.indices
          .map(i => when(col(s"tf$i") > 0, 1).otherwise(0))
          .reduce(_ + _)
        val scoreExpr = round(
          lit(100.0) * col("rrf_score") +
            lit(1.5) * log(lit(1.0) + tfTotal) +
            lit(0.8) * coverage -
            lit(0.1) * log(lit(1.0) + col("dl")),
          6)
        feats
          .select(col("doc_id"), scoreExpr.as("rerank_score"),
            col("rrf_score"), col("r_lex"), col("r_sem"))
          .withColumn("rerank",
            row_number().over(Window.orderBy(col("rerank_score").desc, col("doc_id"))))
          .select(col("doc_id"), col("rerank_score"), col("rerank"),
            col("rrf_score"), col("r_lex"), col("r_sem"))
          .orderBy("rerank")
      },
      Some(s"""WITH $rrfOracleCtes,
              |feat AS (
              |  SELECT f.doc_id, f.rrf_score, f.r_lex, f.r_sem, p.dl, p.tf0, p.tf1, p.tf2
              |  FROM fused f JOIN p USING (doc_id)),
              |scored AS (
              |  SELECT doc_id,
              |    round(
              |      100.0 * rrf_score
              |      + 1.5 * ln(1.0 + (tf0 + tf1 + tf2))
              |      + 0.8 * (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
              |               + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
              |               + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)
              |      - 0.1 * ln(1.0 + dl),
              |      6) AS rerank_score,
              |    rrf_score, r_lex, r_sem
              |  FROM feat)
              |SELECT doc_id, rerank_score,
              |  CAST(row_number() OVER (ORDER BY rerank_score DESC, doc_id) AS INT) AS rerank,
              |  rrf_score, r_lex, r_sem
              |FROM scored ORDER BY rerank""".stripMargin)
    ),

    // LEARNED rerank — q_rerank's deterministic linear stand-in replaced by
    // a TRAINED model in the cross-encoder slot (the r14 verdict's item 7,
    // the q_quality_classifier honesty pattern): a numeric logistic head
    // (TextClassifier.trainNumeric — zero-init, fixed-epoch, sample-order
    // SGD, bit-deterministic) learns (query, doc) relevance from a bounded
    // deterministic sample of the corpus (≤768 docs → 256 train / rest
    // holdout; driver state = 4 doubles) over the SAME features the serve
    // side computes — log1p term-frequency total, query-term coverage,
    // log1p doc length — with teacher label "document covers ALL query
    // terms" (planted relevance: deterministic, balanced ~55/45 on this
    // corpus, separable through the coverage feature by construction).
    // Serving: the weights ship as plan constants into one sigmoid column
    // expression over the RRF top-k candidates — same ≤k-row broadcast
    // feature join as q_rerank, zero model I/O, bounded by k. Registered
    // form = the banded learning audit: n_cands and n_all_terms are
    // cross-engine EXACT (the oracle restates the fused candidate set and
    // its term features relationally — a feature-pipeline defect moves
    // n_all_terms and fails the hash outright), and the learning contract
    // rides five flags the oracle states TRUE: holdout accuracy ≥ 0.95,
    // loss falls with epochs, bit-determinism of two trainings, the rerank
    // permutes exactly the fused set, and every all-terms candidate
    // outranks every partial-coverage one (the planted-relevance claim).
    Q(
      "q_rerank_learned",
      (s, d) => {
        import graft.operators.TextClassifier
        val cov = rrfQueryTerms.indices
          .map(i => when(col(s"tf$i") > 0, 1).otherwise(0))
          .reduce(_ + _)
        def feats(df: org.apache.spark.sql.DataFrame) =
          withTermFeatures(df, rrfQueryTerms).select(
            df.columns.filterNot(_ == "text").map(col).toIndexedSeq ++ Seq(
              log(lit(1.0) + col("tf0") + col("tf1") + col("tf2")).as("f0"),
              cov.cast("double").as("f1"),
              log(lit(1.0) + col("dl")).as("f2")): _*)
        val sampled = feats(
          documents(s, d)
            .select(col("doc_id"), col("text"))
            .filter(pmod(col("doc_id"), lit(3)) < 2))
          .orderBy("doc_id")
          .limit(768)
          .select("f0", "f1", "f2")
          .collect()
          .map(r => (Array(r.getDouble(0), r.getDouble(1), r.getDouble(2)), r.getDouble(1) >= 3.0))
          .toSeq
        // 256/rest, not a fixed large split: the pmod-2/3 sample of a 500-doc
        // fixture corpus is ~334 rows — a 512 split would leave the holdout
        // EMPTY (and the accuracy NaN) exactly where the gate runs.
        val (trainSet, holdout) = sampled.splitAt(256)
        require(holdout.nonEmpty, "rerank training sample too small for a holdout")
        val m1 = TextClassifier.trainNumeric(trainSet)
        val m2 = TextClassifier.trainNumeric(trainSet)
        val acc = holdout.count { case (f, y) => (m1.score(f) >= 0.5) == y }.toDouble / holdout.size
        val l1 = TextClassifier.logLossNumeric(
          TextClassifier.trainNumeric(trainSet, epochs = 1), trainSet)
        val lN = TextClassifier.logLossNumeric(m1, trainSet)
        val deterministic =
          m1.bias == m2.bias && java.util.Arrays.equals(m1.weights, m2.weights)
        // Serve: model weights as plan constants over the fused top-k.
        val cands = hybridRrfFused(s, d)
        val scored = feats(
          documents(s, d)
            .select(col("doc_id"), col("text"))
            .join(broadcast(cands), Seq("doc_id")))
          .withColumn("score",
            lit(1.0) / (lit(1.0) + exp(-(lit(m1.bias) +
              lit(m1.weights(0)) * col("f0") +
              lit(m1.weights(1)) * col("f1") +
              lit(m1.weights(2)) * col("f2")))))
        scored
          .agg(
            count(lit(1)).as("n_scored"),
            sum(when(col("f1") === 3.0, 1L).otherwise(0L)).as("n_all_terms"),
            min(when(col("f1") === 3.0, col("score"))).as("min_pos"),
            max(when(col("f1") < 3.0, col("score"))).as("max_neg"))
          .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_cands"))))
          .select(
            col("n_cands"),
            col("n_all_terms"),
            (col("n_scored") === col("n_cands")).as("permutation_band"),
            (col("min_pos").isNull || col("max_neg").isNull ||
              col("min_pos") > col("max_neg")).as("relevance_band"),
            lit(acc >= 0.95).as("holdout_accuracy_band"),
            lit(lN < l1).as("loss_decreases_band"),
            lit(deterministic).as("determinism_band"))
      },
      Some(s"""WITH $rrfOracleCtes
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_cands,
              |  CAST(SUM(CASE WHEN p.tf0 > 0 AND p.tf1 > 0 AND p.tf2 > 0
              |                THEN 1 ELSE 0 END) AS BIGINT) AS n_all_terms,
              |  TRUE AS permutation_band, TRUE AS relevance_band,
              |  TRUE AS holdout_accuracy_band, TRUE AS loss_decreases_band,
              |  TRUE AS determinism_band
              |FROM fused JOIN p USING (doc_id)""".stripMargin)
    ),

    // Positional phrase search — the third leg of the retrieval family:
    // q_inverted_index materializes postings, q_bm25 ranks bags of words,
    // this finds EXACT adjacent-token phrases ("batch window") via
    // positional-posting intersection — the algorithm a search index runs
    // (Lucene's phrase scorer): postings for the phrase's terms only,
    // intersected on (doc, pos+1 = pos). At 100 TB the postings come from
    // a materialized positional index partitioned by term; here they
    // filter out of the scan (two terms survive the explode), so the join
    // carries candidate positions only — never the full token stream.
    // The oracle deliberately uses a DIFFERENT algorithm (direct 1-based
    // array adjacency indexing over the split text) — cross-algorithm
    // agreement is the check, not restatement.
    Q(
      "q_phrase_search",
      (s, d) => {
        val Seq(t1, t2) = Seq("batch", "window")
        val toks = documents(s, d)
          .select(
            col("doc_id"),
            posexplode(wsTokenArray(col("text"))).as(Seq("pos0", "token")))
          .filter(col("token").isin(t1, t2))
          .select(col("doc_id"), (col("pos0") + 1).cast("long").as("i"), col("token"))
        val a = toks.filter(col("token") === t1).select(col("doc_id"), col("i"))
        val b = toks.filter(col("token") === t2).select(col("doc_id").as("doc_b"), col("i").as("j"))
        a.join(b, col("doc_id") === col("doc_b") && col("i") + 1 === col("j"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_occ"), min(col("i")).as("first_pos"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
             |  FROM documents),
             |occ AS (
             |  SELECT doc_id, i
             |  FROM t, unnest(range(1, len(w))) AS u(i)
             |  WHERE w[i] = 'batch' AND w[i + 1] = 'window')
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ, CAST(MIN(i) AS BIGINT) AS first_pos
             |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    ),

    // Incremental index maintenance — the production retrieval shape at
    // 100 TB: the corpus is indexed ONCE and the per-term stats persist;
    // each day's new batch indexes ALONE and MERGES in, because (df, cf)
    // are algebraic — they add across disjoint doc sets, so the merge is
    // one partial-agg'd full-outer join on term, never a corpus rescan
    // (the q_dedup_incremental framing: "batch" = doc_id ≡ 4 (mod 5),
    // "index" = the rest; dedup upstream guarantees disjointness, which
    // is exactly what makes df additive). The report carries the merged
    // stats plus the batch's contribution and an is-new-term flag — what
    // an index-refresh job logs.
    Q(
      "q_index_merge",
      (s, d) => {
        def postings(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), explode(wsTokenArray(col("text"))).as("term"))
            .groupBy("term", "doc_id")
            .agg(count(lit(1)).as("tf"))
            .groupBy("term")
            .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
        val docs = documents(s, d)
        val idx = postings(docs.filter(pmod(col("doc_id"), lit(5)) =!= 4))
          .select(col("term"), col("df").as("df_i"), col("cf").as("cf_i"))
        val batch = postings(docs.filter(pmod(col("doc_id"), lit(5)) === 4))
          .select(col("term"), col("df").as("df_b"), col("cf").as("cf_b"))
        idx
          .join(batch, Seq("term"), "full_outer")
          .select(
            col("term"),
            (coalesce(col("df_i"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"),
            (coalesce(col("cf_i"), lit(0L)) + coalesce(col("cf_b"), lit(0L))).as("cf"),
            coalesce(col("df_b"), lit(0L)).as("df_batch"),
            col("df_i").isNull.as("is_new_term"))
          .orderBy("term")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> length(x) > 0)) AS term
             |  FROM documents),
             |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |idx AS (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_i, CAST(SUM(tf) AS BIGINT) AS cf_i
             |  FROM tf WHERE doc_id % 5 <> 4 GROUP BY term),
             |b AS (
             |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_b, CAST(SUM(tf) AS BIGINT) AS cf_b
             |  FROM tf WHERE doc_id % 5 = 4 GROUP BY term)
             |SELECT COALESCE(idx.term, b.term) AS term,
             |  COALESCE(df_i, 0) + COALESCE(df_b, 0) AS df,
             |  COALESCE(cf_i, 0) + COALESCE(cf_b, 0) AS cf,
             |  COALESCE(df_b, 0) AS df_batch,
             |  df_i IS NULL AS is_new_term
             |FROM idx FULL OUTER JOIN b ON idx.term = b.term
             |ORDER BY term""".stripMargin)
    )
  )
}
