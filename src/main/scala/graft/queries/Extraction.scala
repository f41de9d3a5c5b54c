package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** S2 (XML sitemap parse) + S9 (HTML field extraction) — the reference's
  * ingestion-side parsers (bbc_news_dag.py:28-34 BeautifulSoup <loc>/
  * <lastmod> extraction; ArticlesSpider.py:18-33 CSS/XPath field
  * extraction), re-expressed with Spark's built-in Hive xpath_* SQL
  * functions over markup-bearing string columns.
  *
  * The fixtures carry no markup, so each query SYNTHESIZES a
  * deterministic document from fixture fields first (that projection is
  * not the operator under test) and then runs the real extraction
  * expressions. The DuckDB oracle re-synthesizes the same string and
  * extracts with regexes — equivalent on this well-formed shape, so both
  * queries are fully value-checked.
  *
  * Extraction uses the native `xml_fields` expression
  * (expressions/XmlFields.scala): ONE scan of the document yields every
  * requested field as a struct. Round 2 used Hive's xpath_* here, which
  * DOM-parses the document once per FIELD per row (and again when the
  * optimizer substitutes the alias into a pushed-down filter) — 667 s at
  * sf0.1 for 5k docs; the single-scan struct form is map-only and ~µs/row.
  *
  * Scale: per-row scalar expression — map-only, no shuffle; a 100 TB
  * crawl archive parses embarrassingly parallel.
  */
object Extraction {

  type Q = (SparkSession, String) => DataFrame

  /** X1/S2: sitemap <url><loc>…</loc><lastmod>…</lastmod></url> parse +
    * the news-URL substring predicate (O-P1, bbc_news_dag.py:32).
    */
  def x1SitemapParse(s: SparkSession, dir: String): DataFrame =
    x1Links(Tables.documents(s, dir)).orderBy(col("doc_id"))

  /** The x1 parse over any documents frame, without x1's presentation
    * sort: (doc_id, loc, lastmod) of the news links.
    */
  def x1Links(docs: DataFrame): DataFrame = {
    val xml = concat(
      lit("<url><loc>https://www.bbc.com/"),
      when(col("doc_id") % 3 === 0, lit("sport/")).otherwise(lit("news/")),
      col("source"), lit("-"), col("doc_id").cast("string"),
      lit("</loc><lastmod>2022-0"), ((col("doc_id") % 9) + 1).cast("string"),
      lit("-15T12:00:00Z</lastmod></url>"))
    docs
      .select(col("doc_id"), xml.as("xml"))
      .select(col("doc_id"), expr("xml_fields(xml, 'loc', 'lastmod')").as("f"))
      .select(col("doc_id"), col("f.c0").as("loc"), col("f.c1").as("lastmod"))
      .filter(col("loc").contains("www.bbc.com/news/"))
  }

  val x1Sql: String =
    """WITH synth AS (
      |  SELECT doc_id,
      |    '<url><loc>https://www.bbc.com/' ||
      |    CASE WHEN doc_id % 3 = 0 THEN 'sport/' ELSE 'news/' END ||
      |    source || '-' || doc_id ||
      |    '</loc><lastmod>2022-0' || (doc_id % 9) + 1 ||
      |    '-15T12:00:00Z</lastmod></url>' AS xml
      |  FROM documents
      |)
      |SELECT doc_id,
      |  regexp_extract(xml, '<loc>(.*?)</loc>', 1) AS loc,
      |  regexp_extract(xml, '<lastmod>(.*?)</lastmod>', 1) AS lastmod
      |FROM synth
      |WHERE contains(regexp_extract(xml, '<loc>(.*?)</loc>', 1), 'www.bbc.com/news/')
      |ORDER BY doc_id""".stripMargin

  /** X2/S9 + O-P11: HTML page field extraction — headline from
    * //h1[@id='main-heading'], timestamp attribute from //time/@datetime,
    * paragraph texts as an array, then ' '.join(paragraphs[:-1])
    * (ArticlesSpider.py:22,26-28).
    */
  def x2HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val headline = regexp_replace(substring(col("text"), 1, 40), "\\s+$", "")
    val html = concat(
      lit("<html><body><h1 id=\"main-heading\">"), headline,
      lit("</h1><time datetime=\"2022-06-0"), ((col("doc_id") % 9) + 1).cast("string"),
      lit("\"></time><p>alpha "), col("doc_id").cast("string"),
      lit("</p><p>beta "), col("source"),
      lit("</p><p>footer</p></body></html>"))
    Tables.documents(s, dir)
      .filter(!col("text").contains("<") && !col("text").contains("&"))
      .select(col("doc_id"), html.as("html"))
      .select(col("doc_id"),
        expr("xml_fields(html, 'h1#main-heading', 'time@datetime', 'p[]')")
          .as("f"))
      // drop-last ' '.join (ArticlesSpider.py:28 paragraphs[:-1]); the
      // repeated f.c2 references share ONE xml_fields scan via
      // per-operator subexpression elimination
      .select(col("doc_id"), col("f.c0").as("title"), col("f.c1").as("published"),
        array_join(
          slice(col("f.c2"), lit(1), greatest(size(col("f.c2")) - 1, lit(0))),
          " ").as("body"))
      .orderBy(col("doc_id"))
  }

  val x2Sql: String =
    """WITH synth AS (
      |  SELECT doc_id,
      |    regexp_replace(substr(text, 1, 40), '\s+$', '') AS title,
      |    '2022-06-0' || (doc_id % 9) + 1 AS published,
      |    ['alpha ' || doc_id, 'beta ' || source] AS kept_paras
      |  FROM documents
      |  WHERE NOT contains(text, '<') AND NOT contains(text, '&')
      |)
      |SELECT doc_id, title, published,
      |       array_to_string(kept_paras, ' ') AS body
      |FROM synth ORDER BY doc_id""".stripMargin

  /** X3: crawl-frontier URL canonicalization + dedup
    * ([[graft.functions.TextFunctions.canonicalUrl]]) — the pass a crawl
    * pipeline runs before the frontier anti-join (S7) and before page-
    * level dedup, so `HTTPS://WWW.x.COM:443/a/?b=2&a=1#f` and
    * `https://x.com/a?a=1&b=2` count as ONE page. Following x1/x2's
    * doctrine the fixture synthesizes three messy variants per document
    * (tracking params, shuffled query order, uppercase authority,
    * default port, trailing slash, fragment) and the REAL operator —
    * canonicalize, group, count variants, min-id representative — runs
    * distributed: map-only scalar chain + one map-side-combined groupBy
    * whose shuffle carries canonical strings and counts, never pages.
    */
  def x3UrlCanonical(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.canonicalUrl
    val base = concat(col("source"), lit("/"), col("doc_id").cast("string"))
    val variants = array(
      concat(lit("HTTPS://WWW.Example.COM:443/news/"), base,
        lit("/?utm_source=feed&b=2&a=1#frag")),
      concat(lit("https://www.example.com/news/"), base, lit("?a=1&b=2")),
      concat(lit("https://example.com/news/"), base,
        lit("?b=2&ref=home&a=1#x")))
    Tables.fanOut(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), explode(variants).as("url"))
      .select(col("doc_id"), canonicalUrl(col("url")).as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("first_id"))
      .orderBy(col("canon_url"))
  }

  val x3Sql: String =
    """WITH urls AS (
      |  SELECT doc_id, unnest([
      |    'HTTPS://WWW.Example.COM:443/news/' || source || '/' || doc_id || '/?utm_source=feed&b=2&a=1#frag',
      |    'https://www.example.com/news/' || source || '/' || doc_id || '?a=1&b=2',
      |    'https://example.com/news/' || source || '/' || doc_id || '?b=2&ref=home&a=1#x'
      |  ]) AS url FROM documents
      |),
      |s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM urls),
      |s2 AS (SELECT *, regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*') AS auth FROM s1),
      |s3 AS (SELECT *,
      |  regexp_replace(regexp_replace(regexp_replace(lower(auth),
      |    '^(https?://)www\.', '\1'),
      |    '^(https://[^/:]+):443$', '\1'),
      |    '^(http://[^/:]+):80$', '\1') AS auth_c,
      |  substr(nofrag, length(auth) + 1) AS rest FROM s2),
      |s4 AS (SELECT *,
      |  regexp_replace(CASE WHEN contains(rest, '?') THEN substr(rest, 1, strpos(rest, '?') - 1) ELSE rest END, '/+$', '') AS path_c,
      |  CASE WHEN contains(rest, '?') THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS q FROM s3),
      |s5 AS (SELECT *,
      |  array_to_string(list_sort(list_filter(string_split(q, '&'),
      |    x -> length(x) > 0 AND NOT regexp_matches(x, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS q_c
      |  FROM s4)
      |SELECT auth_c || path_c || CASE WHEN length(q_c) > 0 THEN '?' || q_c ELSE '' END AS canon_url,
      |       count(*) AS n_variants, min(doc_id) AS first_id
      |FROM s5 GROUP BY 1 ORDER BY 1""".stripMargin

  /** X4: robots.txt politeness filter (RFC 9309) — the crawl-side gate
    * between x3's frontier canonicalization and the fetch (S1): per
    * domain, parse the Allow/Disallow/Crawl-delay directives, then give
    * every frontier URL the verdict of its LONGEST-matching path rule
    * (most-specific wins; on an equal-length Allow/Disallow tie, Allow
    * wins — RFC 9309 §2.2.2's least-restrictive rule), defaulting to
    * allow when no rule matches. The reference's DAG fetches BBC
    * unconditionally (bbc_news_dag.py:22-25); any multi-domain crawl
    * needs this pass before S1.
    *
    * Following the x1/x2/x3 doctrine the fixture synthesizes both sides
    * (a 4-line robots.txt per source-as-domain; four frontier path
    * shapes per document that exercise no-match, Disallow, the
    * prefix-overlap pair Disallow /news/draft vs Allow
    * /news/draft-public, and Crawl-delay extraction) and the REAL
    * operator runs distributed: the directive parse is a per-domain
    * explode (robots files are KBs), and the frontier pass is a
    * domain-keyed left equi-join with the prefix predicate fused into
    * the join condition. The rule table scales with |domains| — small
    * crawls broadcast, but a web-scale frontier has millions of
    * domains, so the join strategy is deliberately left to AQE: it
    * broadcasts when the rule side fits and falls back to a
    * domain-keyed shuffle join (with skew splitting for mega-domains)
    * when it doesn't. The remaining shuffle is the per-URL
    * longest-match argmax — map-side-combined max_by carrying
    * (url, rule-length, kind), never page text.
    */
  def x4RobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val domains = Tables.documents(s, dir)
      .select(col("source").as("domain")).distinct()
    val robotsTxt = concat(
      lit("User-agent: *\nDisallow: /private/\nDisallow: /news/draft\n"),
      lit("Allow: /news/draft-public\nCrawl-delay: "),
      (lit(2) + length(col("domain")) % 5).cast("string"))
    val lines = domains.select(col("domain"), robotsTxt.as("txt"))
      .select(col("domain"), explode(split(col("txt"), "\n")).as("line"))
    val rules = lines
      .filter(col("line").rlike("^(Allow|Disallow): "))
      .select(col("domain"),
        lower(regexp_extract(col("line"), "^(Allow|Disallow): (\\S+)$", 1)).as("kind"),
        regexp_extract(col("line"), "^(Allow|Disallow): (\\S+)$", 2).as("rule_path"))
    val delays = lines
      .filter(col("line").rlike("^Crawl-delay: "))
      .select(col("domain"),
        regexp_extract(col("line"), "^Crawl-delay: (\\d+)$", 1)
          .cast("long").as("crawl_delay"))
    val path =
      when(col("doc_id") % 4 === 0,
        concat(lit("/news/"), col("source"), lit("-"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 1, concat(lit("/private/p"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2, concat(lit("/news/draft"), col("doc_id").cast("string")))
        .otherwise(concat(lit("/news/draft-public/"), col("doc_id").cast("string")))
    val frontier = Tables.documents(s, dir)
      .select(col("doc_id"), col("source").as("domain"), path.as("path"))
      .select(col("doc_id"), col("domain"), col("path"),
        concat(lit("https://"), col("domain"), lit(".example.com"), col("path")).as("url"))
    val r = rules // join strategy AQE-decided: see the scaladoc
    // prefix predicate fused into the equi-join; unmatched URLs keep
    // a null rule row so max_by's null-ordering drop yields verdict=allow
    val joined = frontier.join(r,
      frontier("domain") === r("domain") && frontier("path").startsWith(r("rule_path")),
      "left")
      .select(col("url"), frontier("domain").as("domain"),
        col("kind"), col("rule_path"),
        length(col("rule_path")).as("plen"),
        when(col("kind") === "allow", 1).otherwise(0).as("is_allow"))
    val best = joined.groupBy(col("url"), col("domain"))
      .agg(max_by(struct(col("kind"), col("rule_path")),
        struct(col("plen"), col("is_allow"))).as("m"))
    best.join(delays, Seq("domain"))
      .select(col("url"), col("domain"),
        coalesce(col("m.kind"), lit("allow")).as("verdict"),
        col("m.rule_path").as("rule"), col("crawl_delay"))
      .orderBy(col("url"))
  }

  val x4Sql: String =
    """WITH domains AS (SELECT DISTINCT source AS domain FROM documents),
      |robots AS (
      |  SELECT domain,
      |    'User-agent: *' || chr(10) || 'Disallow: /private/' || chr(10) ||
      |    'Disallow: /news/draft' || chr(10) || 'Allow: /news/draft-public' ||
      |    chr(10) || 'Crawl-delay: ' || (2 + length(domain) % 5) AS txt
      |  FROM domains),
      |lines AS (SELECT domain, unnest(string_split(txt, chr(10))) AS line FROM robots),
      |rules AS (
      |  SELECT domain,
      |    lower(regexp_extract(line, '^(Allow|Disallow): (\S+)$', 1)) AS kind,
      |    regexp_extract(line, '^(Allow|Disallow): (\S+)$', 2) AS rule_path
      |  FROM lines WHERE regexp_matches(line, '^(Allow|Disallow): ')),
      |delays AS (
      |  SELECT domain, CAST(regexp_extract(line, '^Crawl-delay: (\d+)$', 1) AS BIGINT) AS crawl_delay
      |  FROM lines WHERE regexp_matches(line, '^Crawl-delay: ')),
      |frontier AS (
      |  SELECT doc_id, source AS domain,
      |    CASE WHEN doc_id % 4 = 0 THEN '/news/' || source || '-' || doc_id
      |         WHEN doc_id % 4 = 1 THEN '/private/p' || doc_id
      |         WHEN doc_id % 4 = 2 THEN '/news/draft' || doc_id
      |         ELSE '/news/draft-public/' || doc_id END AS path
      |  FROM documents),
      |f AS (SELECT doc_id, domain, path,
      |        'https://' || domain || '.example.com' || path AS url FROM frontier),
      |best AS (
      |  SELECT url, domain, kind, rule_path,
      |    row_number() OVER (PARTITION BY url
      |      ORDER BY length(rule_path) DESC, kind ASC) AS rn
      |  FROM (SELECT f.url, f.domain, r.kind, r.rule_path
      |        FROM f JOIN rules r USING (domain)
      |        WHERE starts_with(f.path, r.rule_path)))
      |SELECT f.url, f.domain,
      |  coalesce(b.kind, 'allow') AS verdict, b.rule_path AS rule, d.crawl_delay
      |FROM f
      |LEFT JOIN (SELECT url, kind, rule_path FROM best WHERE rn = 1) b USING (url)
      |JOIN delays d USING (domain)
      |ORDER BY url""".stripMargin

  // x5 block-classification thresholds: a block is main content when its
  // tag-stripped text is at least MinLen chars AND its anchor-text share
  // is at most 1/3 — the jusText/Arc90 "link density" rule kept on an
  // INTEGER grid (llen·3 ≤ tlen) so the classification is exact in any
  // engine, no float compare at the boundary.
  val X5MinLen = 40

  /** X5: main-content extraction by text/link density — the boilerplate-
    * removal pass between x2's field extraction and the text pipeline:
    * split the page into blocks, strip tags, and keep only blocks that
    * are long enough and not link-dominated (navigation, footers, and
    * related-links rails are short and mostly anchor text — the
    * jusText/Readability-class heuristic, Kohlschütter's "boilerplate
    * detection using shallow text features" shape). The reference scrapes
    * hand-picked CSS selectors per site (ArticlesSpider.py:18-33); a
    * 100 TB general crawl has no per-site selectors, which is exactly
    * what the density heuristic replaces. t29's per-source paragraph
    * dedup catches TEMPLATED boilerplate; x5 catches STRUCTURAL
    * boilerplate on a single page with no cross-doc state at all.
    *
    * Following the x1/x2 doctrine the fixture synthesizes a 4-block page
    * (link-dense nav, two content paragraphs — one carrying an inline
    * link — and a link-dense footer) and the REAL operator runs over the
    * block array as higher-order functions: transform → per-block
    * (text, text-length, anchor-text-length), filter on the integer
    * density rule, aggregate the rejects. Map-only scalar work — no
    * explode, no shuffle; a crawl archive classifies embarrassingly
    * parallel, and the per-block stats stay inside whole-stage codegen.
    */
  def x5MainContent(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<div><a href=\"/\">home</a> <a href=\"/news\">news</a> <a href=\"/sport\">sport</a></div>\n"),
      lit("<p>"), substring(col("text"), 1, 120), lit("</p>\n"),
      lit("<p>"), substring(col("text"), 121, 120),
      lit(" read <a href=\"/more\">more here</a></p>\n"),
      lit("<div><a href=\"/about\">about</a> <a href=\"/contact\">contact us</a> (c) example</div>"))
    def tlenOf(b: org.apache.spark.sql.Column) =
      length(regexp_replace(b, "<[^>]*>", ""))
    def llenOf(b: org.apache.spark.sql.Column) =
      length(array_join(
        regexp_extract_all(b, lit("<a [^>]*>([^<]*)</a>"), lit(1)), ""))
    val isContent = (x: org.apache.spark.sql.Column) =>
      x.getField("tlen") >= X5MinLen &&
        x.getField("llen") * 3 <= x.getField("tlen")
    Tables.documents(s, dir)
      .filter(!col("text").contains("<") && !col("text").contains("&"))
      .select(col("doc_id"), split(html, "\n").as("bs"))
      .select(col("doc_id"),
        transform(col("bs"), b => struct(
          regexp_replace(b, "<[^>]*>", "").as("txt"),
          tlenOf(b).as("tlen"), llenOf(b).as("llen"))).as("stats"))
      .select(col("doc_id"),
        size(col("stats")).as("n_blocks"),
        size(filter(col("stats"), isContent)).as("n_content"),
        array_join(
          transform(filter(col("stats"), isContent), x => x.getField("txt")),
          " ").as("main_text"),
        aggregate(filter(col("stats"), x => !isContent(x)),
          lit(0L), (a, x) => a + x.getField("tlen")).as("boiler_chars"))
      .orderBy(col("doc_id"))
  }

  val x5Sql: String =
    s"""WITH synth AS (
       |  SELECT doc_id,
       |    '<div><a href="/">home</a> <a href="/news">news</a> <a href="/sport">sport</a></div>' || chr(10) ||
       |    '<p>' || substr(text, 1, 120) || '</p>' || chr(10) ||
       |    '<p>' || substr(text, 121, 120) || ' read <a href="/more">more here</a></p>' || chr(10) ||
       |    '<div><a href="/about">about</a> <a href="/contact">contact us</a> (c) example</div>' AS html
       |  FROM documents WHERE NOT contains(text, '<') AND NOT contains(text, '&')
       |), blocks AS (
       |  SELECT doc_id, list_transform(string_split(html, chr(10)), b -> struct_pack(
       |    txt := regexp_replace(b, '<[^>]*>', '', 'g'),
       |    tlen := length(regexp_replace(b, '<[^>]*>', '', 'g')),
       |    llen := coalesce(length(array_to_string(
       |      regexp_extract_all(b, '<a [^>]*>([^<]*)</a>', 1), '')), 0))) AS stats
       |  FROM synth
       |)
       |SELECT doc_id,
       |  len(stats)::INT AS n_blocks,
       |  len(list_filter(stats, x -> x.tlen >= $X5MinLen AND x.llen * 3 <= x.tlen))::INT AS n_content,
       |  array_to_string(list_transform(
       |    list_filter(stats, x -> x.tlen >= $X5MinLen AND x.llen * 3 <= x.tlen),
       |    x -> x.txt), ' ') AS main_text,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(
       |    list_filter(stats, x -> NOT (x.tlen >= $X5MinLen AND x.llen * 3 <= x.tlen)),
       |    x -> x.tlen::BIGINT)), (a, x) -> a + x) AS boiler_chars
       |FROM blocks ORDER BY doc_id""".stripMargin

  /** X6: sitemap-INDEX recursion + politeness fetch plan — the level
    * above x1: real sites ship a `<sitemapindex>` of per-section
    * sitemaps, and the crawler must parse the index, fan out to each
    * child sitemap, parse ITS `<loc>` entries, and schedule fetches
    * under the domain's crawl delay (x4's directive). Following the
    * x1/x2 doctrine both levels are synthesized from fixture fields
    * (one child sitemap per source, one URL per document) and the REAL
    * operators run distributed: both parse levels are the native
    * single-scan `xml_fields` `loc[]` all-occurrences mode, the
    * per-domain sequence is a posexplode ordinal (no window — document
    * order IS the sitemap's), and the schedule offset is
    * seq · crawl_delay. Scale note: the sitemap protocol itself caps a
    * file at 50k URLs, so the per-source assembled string and its
    * parse are bounded BY SPEC — the fan-out across sitemaps is where
    * the data grows, and that's the exploded, embarrassingly parallel
    * axis.
    */
  def x6SitemapIndex(s: SparkSession, dir: String): DataFrame = {
    // level 0: the index document (one row), listing every child sitemap
    val index = Tables.documents(s, dir)
      .select(col("source")).distinct()
      .agg(concat(lit("<sitemapindex>"),
        concat_ws("", array_sort(collect_list(concat(
          lit("<sitemap><loc>https://"), col("source"),
          lit(".example.com/sitemap.xml</loc></sitemap>"))))),
        lit("</sitemapindex>")).as("xml"))
    val children = index
      .select(explode(expr("xml_fields(xml, 'loc[]').c0")).as("sitemap_url"))
      .select(col("sitemap_url"),
        // [^.]+ (not [a-z0-9]+): a source containing '-', '_' or mixed
        // case must round-trip through the URL without truncating the
        // join key — everything up to the first label dot IS the source.
        regexp_extract(col("sitemap_url"), "https://([^.]+)\\.", 1).as("source"))
    // level 1: each child sitemap's body, assembled per source in doc order
    val bodies = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(concat(lit("<urlset>"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col("doc_id")))),
          x => concat(lit("<url><loc>https://"), col("source"),
            lit(".example.com/news/"), x.getField("doc_id").cast("string"),
            lit("</loc></url>")))),
        lit("</urlset>")).as("xml"))
    val urls = children.join(bodies, Seq("source"))
      .select(col("source"), col("sitemap_url"),
        posexplode(expr("xml_fields(xml, 'loc[]').c0")).as(Seq("i", "url")))
    val delay = (lit(2) + length(col("source")) % 5).cast("long")
    urls.select(col("source"), col("sitemap_url"),
      (col("i") + 1).cast("long").as("seq"), col("url"),
      delay.as("crawl_delay"),
      ((col("i") + 1) * delay).as("offset_s"))
      .orderBy(col("source"), col("seq"))
  }

  val x6Sql: String =
    """WITH bodies AS (
      |  SELECT source,
      |    string_agg('https://' || source || '.example.com/news/' || doc_id,
      |               chr(10) ORDER BY doc_id) AS locs
      |  FROM documents GROUP BY 1
      |), urls AS (
      |  SELECT source, 'https://' || source || '.example.com/sitemap.xml' AS sitemap_url,
      |    unnest(string_split(locs, chr(10))) AS url,
      |    generate_subscripts(string_split(locs, chr(10)), 1) AS seq
      |  FROM bodies
      |)
      |SELECT source, sitemap_url, CAST(seq AS BIGINT) AS seq, url,
      |  (2 + length(source) % 5)::BIGINT AS crawl_delay,
      |  (seq * (2 + length(source) % 5))::BIGINT AS offset_s
      |FROM urls ORDER BY source, seq""".stripMargin

  val queries: ListMap[String, Q] = ListMap(
    "x1_sitemap_parse" -> (x1SitemapParse _),
    "x2_html_extract" -> (x2HtmlExtract _),
    "x3_url_canonical" -> (x3UrlCanonical _),
    "x4_robots_filter" -> (x4RobotsFilter _),
    "x5_main_content" -> (x5MainContent _),
    "x6_sitemap_index" -> (x6SitemapIndex _),
  )

  val oracle: ListMap[String, String] = ListMap(
    "x1_sitemap_parse" -> x1Sql,
    "x2_html_extract" -> x2Sql,
    "x3_url_canonical" -> x3Sql,
    "x4_robots_filter" -> x4Sql,
    "x5_main_content" -> x5Sql,
    "x6_sitemap_index" -> x6Sql,
  )
}
