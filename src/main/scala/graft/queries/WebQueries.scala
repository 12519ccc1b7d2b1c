package graft.queries

import graft.{Q, Tables => T}
import graft.functions.UrlParts.urlParts
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL-level curation operators — the CommonCrawl/CCNet front door of a
  * training-data pipeline: URL canonicalization, URL-level dedup (the
  * cheapest dedup rung, upstream of content MinHash), and the per-domain
  * prior join (CCNet ranks domains and joins the rank onto every page).
  *
  * The documents table carries no URL column, so each doc gets a
  * DETERMINISTIC synthetic raw URL derived from `doc_id` alone (the
  * multimodal_decode_fixed posture: engine and oracle restate the same
  * closed-form synth). The synth deliberately exercises every
  * canonicalization rule: scheme/host case, www prefix, default vs
  * explicit ports, trailing slash, fragments, utm_* tracking params, and
  * param reordering — with planted collisions (doc_id and doc_id+300
  * agree on every canon-relevant residue when both fall in the same
  * port/query classes), so `dedup_url` finds real groups at every SF.
  *
  * The parse is one native expression, [[graft.functions.UrlParts]]
  * (codegen'd, row-local, one plan node per use), and the rest is
  * built-in functions: at 100 TB canonicalization is
  * scan-bandwidth-bound, `dedup_url` is one hash-partitioned window on
  * the canon key, and the domain prior is a bounded-cardinality aggregate
  * broadcast back onto the corpus.
  */
object WebQueries {

  /** The lcm of every canon-relevant residue in the synth (25·10·3·50·
    * 7·4·2·5·8 collapse to lcm 4200): without a block component, TWO
    * pages could only ever share a canonical URL via these residues, so
    * the distinct-key space would be bounded at 4200 and dup GROUPS
    * would stop growing past ~4200 docs (caught measuring the 1000×
    * decade — group count froze). The `/b<doc_id div 4200>` path
    * segment gives each 4200-id block its own key space: collision
    * density per block matches the small-SF fixture, group count scales
    * linearly, and group SIZE stays bounded (≤ 14 = 4200/300) — the
    * realistic regime, where URL dup groups are small however large the
    * crawl. */
  private val UrlBlock = 4200

  /** Deterministic synthetic raw URL for a document id. */
  private[graft] def rawUrlCol(d: Column): Column = {
    def m(k: Int): Column = pmod(d, lit(k))
    val hostCore = concat(lit("s"), m(25).cast("string"))
    val block = floor(d / UrlBlock).cast("long")
    concat(
      when(m(3) === 0, "http://").when(m(3) === 1, "https://")
        .otherwise("HTTPS://"),
      when(m(2) === 0, "www.").otherwise(""),
      when(m(5) === 0, upper(hostCore)).otherwise(hostCore),
      lit("."), lit("dom"), m(10).cast("string"), lit("."),
      when(m(3) === 0, "com").when(m(3) === 1, "org").otherwise("net"),
      when(m(7) === 0, when(m(3) === 0, ":80").otherwise(":443"))
        .when(m(7) === 1, ":8080").otherwise(""),
      lit("/b"), block.cast("string"),
      lit("/p/"), m(50).cast("string"),
      when(m(4) === 0, "/").otherwise(""),
      when(m(4) === 0, "?utm_source=feed&x=1")
        .when(m(4) === 1, "?x=1&utm_medium=a")
        .when(m(4) === 2, "?x=1&a=2").otherwise(""),
      when(m(8) === 0, "#frag").otherwise(""))
  }

  /** The canonical URL. Idempotent (spec-pinned). */
  private[graft] def canonicalize(raw: Column): Column =
    urlParts(raw).getField("canon_url")

  /** The canonical host. */
  private[graft] def hostOf(raw: Column): Column =
    urlParts(raw).getField("host")

  /** Appends the RefinedWeb-style gate features + verdict (`path_depth`,
    * `n_params`, `digit_frac`, `tracked`, `odd_port`, `pass`) to a frame
    * carrying `raw_url` and its [[graft.functions.UrlParts]] as `url`.
    * ONE rule set shared by the `url_quality_gate` registry row and the
    * `url_screen` API verb — the two surfaces cannot drift. Row-local
    * built-ins throughout. */
  private[graft] def withGateFeatures(parsed: DataFrame): DataFrame = {
    val p = col("url.pth"); val qs = col("url.qs")
    parsed
      .withColumn("path_depth", (size(split(p, "/")) - 1).cast("long"))
      .withColumn("n_params", when(qs === "", 0L)
        .otherwise(size(split(qs, "&")).cast("long")))
      // empty canonical path (bare-host URL: http://example.com) would be
      // 0.0/0.0 -> NULL under non-ANSI Divide and the NULL would null the
      // `pass` conjunction — a path with no characters has no digits
      .withColumn("digit_frac",
        when(length(p) === 0, lit(0.0)).otherwise(
          (length(p) - length(regexp_replace(p, "[0-9]", ""))).cast("double")
            / length(p).cast("double")))
      .withColumn("tracked", col("raw_url").contains("utm_"))
      .withColumn("odd_port", col("url.port") =!= "")
      .withColumn("pass",
        !col("tracked") && col("n_params") <= 2 &&
          col("path_depth") <= 4 && col("digit_frac") <= 0.5)
  }

  /** Registered domain = last two host labels (the public-suffix
    * approximation that needs no suffix list); a single-label host is
    * its own domain — substring_index(…, -2) gives both behaviors
    * totally (no split array, no ANSI throw). */
  private[graft] def domainOf(host: Column): Column =
    substring_index(host, ".", -2)

  // ---------------------------------------------------------------- SQL

  /** DuckDB twin of the synthetic [[rawUrlCol]] alone, as a CTE
    * `raw(doc_id, n_chars, raw_url)` over `documents`. */
  private val SynthRawCte: String =
    // NOTE: continuation lines here must never START with "|" — query
    // strings that embed this fragment call .stripMargin again, which
    // would eat the first pipe of a leading "||" (so the concat operator
    // always trails the previous line).
    """raw AS (
      |  SELECT doc_id, n_chars,
      |    (CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'
      |      ELSE 'HTTPS://' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0
      |      THEN upper('s' || CAST(doc_id % 25 AS VARCHAR))
      |      ELSE 's' || CAST(doc_id % 25 AS VARCHAR) END) ||
      |    '.dom' || CAST(doc_id % 10 AS VARCHAR) || '.' ||
      |    (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      |      ELSE 'net' END) ||
      |    (CASE WHEN doc_id % 7 = 0
      |      THEN (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE ':443' END)
      |      WHEN doc_id % 7 = 1 THEN ':8080' ELSE '' END) ||
      |    '/b' || CAST(doc_id // 4200 AS VARCHAR) ||
      |    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
      |    (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&x=1'
      |      WHEN 1 THEN '?x=1&utm_medium=a'
      |      WHEN 2 THEN '?x=1&a=2' ELSE '' END) ||
      |    (CASE WHEN doc_id % 8 = 0 THEN '#frag' ELSE '' END) AS raw_url
      |  FROM documents)""".stripMargin

  /** DuckDB twin of [[graft.functions.UrlParts]] — the c0–c6 parse chain
    * over ANY `raw` CTE carrying `raw_url` (extra columns pass through the
    * `SELECT *`s). Ends in `c6(..., scheme, host, port, pth, qs)`. */
  private val CanonChainCtes: String =
    """c0 AS (SELECT *, string_split(raw_url, '#')[1] AS u FROM raw),
      |c1 AS (SELECT *,
      |         CASE WHEN contains(u, '://')
      |           THEN lower(string_split(u, '://')[1])
      |           ELSE 'http' END AS scheme,
      |         CASE WHEN contains(u, '://')
      |           THEN substr(u, length(string_split(u, '://')[1]) + 4)
      |           ELSE u END AS rest FROM c0),
      |c2 AS (SELECT *,
      |         string_split(string_split(rest, '/')[1], '?')[1] AS hostport
      |       FROM c1),
      |c3 AS (SELECT *, substr(rest, length(hostport) + 1) AS pathq FROM c2),
      |c4 AS (SELECT *, string_split(pathq, '?')[1] AS path0,
      |         CASE WHEN len(string_split(pathq, '?')) > 1
      |           THEN string_split(pathq, '?')[2] ELSE '' END AS qry FROM c3),
      |c5 AS (SELECT *, lower(string_split(hostport, ':')[1]) AS host0,
      |         CASE WHEN len(string_split(hostport, ':')) > 1
      |           THEN ':' || string_split(hostport, ':')[2]
      |           ELSE '' END AS port0 FROM c4),
      |c6 AS (SELECT *,
      |    CASE WHEN (scheme = 'http' AND port0 = ':80')
      |           OR (scheme = 'https' AND port0 = ':443')
      |      THEN '' ELSE port0 END AS port,
      |    CASE WHEN starts_with(host0, 'www.') THEN substr(host0, 5)
      |      ELSE host0 END AS host,
      |    CASE WHEN path0 LIKE '%/' AND length(path0) > 1
      |      THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS pth,
      |    COALESCE(array_to_string(list_sort(list_filter(
      |      string_split(qry, '&'),
      |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS qs
      |  FROM c5)""".stripMargin

  /** The canonical-URL reassembly expression over a c6 row. */
  private val CanonUrlSql: String =
    "scheme || '://' || host || port || pth || " +
      "CASE WHEN qs = '' THEN '' ELSE '?' || qs END"

  /** DuckDB twin of [[rawUrlCol]] + [[canonicalize]], as chained CTEs
    * ending in `canon(doc_id, n_chars, raw_url, canon_url, host)`. */
  private val CanonSqlCtes: String =
    s"""$SynthRawCte,
       |$CanonChainCtes,
       |canon AS (
       |  SELECT doc_id, n_chars, raw_url, $CanonUrlSql AS canon_url, host
       |  FROM c6)""".stripMargin

  // Mirrors the engine's substring_index(host, '.', -2) TOTALLY: a
  // single-label host is its own domain (the naive [len-1] index would
  // read [0] -> NULL), and scheme-less inputs never reach here broken
  // because c1 above restates the engine's http fallback. The synth never
  // emits either shape; the guards keep engine and twin equivalent on
  // arbitrary input, not just the fixture space.
  private val DomainSql =
    "CASE WHEN len(string_split(host, '.')) <= 1 THEN host ELSE " +
      "string_split(host, '.')[len(string_split(host, '.')) - 1] || '.' || " +
      "string_split(host, '.')[len(string_split(host, '.'))] END"

  /** The adversarial-shape fixture behind `url_gate_adversarial`: every
    * row is a URL shape outside the synthetic corpus's space, each
    * pinning one totality guard (see the query doc). Kept tiny and
    * literal so the DuckDB twin can restate it as VALUES. */
  private[graft] val AdversarialUrls: Seq[(Long, String)] = Seq(
    1L -> "example.com", // scheme-less, bare host, empty path
    2L -> "http://example.com", // empty path: the 0/0 digit_frac guard
    3L -> "https://localhost:8443/a/b", // single-label host, odd port
    4L -> "HTTP://WWW.Example.COM:80/x/", // case+www+default port+slash
    5L -> "example.com/p?b=2&a=1&utm_source=x", // scheme-less w/ query
    6L -> "http://single", // single-label host, empty path
    7L -> "http://digits.com/123456", // digit_frac 6/7 > 0.5 -> fail
    8L -> "https://deep.example.org/1/2/3/4/5/6", // depth 6 -> fail
    9L -> "http://example.com?x=1&utm_campaign=c", // query, NO path
    10L -> "http://h.com:8080/x?a=1&b=2&c=3", // odd port, 3 params
    11L -> "https://example.com:443/ok", // default https port stripped
    12L -> "http://example.com/#frag") // root slash + fragment

  private val AdversarialUrlsSql: String =
    AdversarialUrls.map { case (id, u) => s"($id, '$u')" }.mkString(", ")

  // ------------------------------------------------------------ queries

  val all: Seq[(String, Q)] = Seq(

    "url_canonicalize" -> Q(
      "URL canonicalization: case, www, default ports, trailing slash, fragments, utm_* strip, param sort — row-local built-ins, scan-bandwidth-bound at 100 TB",
      (s, dir) => {
        T.documents(s, dir)
          .withColumn("raw_url", rawUrlCol(col("doc_id")))
          .withColumn("url", urlParts(col("raw_url")))
          .select(col("doc_id"), col("raw_url"), col("url.canon_url"),
            col("url.host"), domainOf(col("url.host")).as("domain"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $CanonSqlCtes
         |SELECT doc_id, raw_url, canon_url, host, $DomainSql AS domain
         |FROM canon ORDER BY doc_id""".stripMargin),

    "dedup_url" -> Q(
      "URL-level dedup: group by canonical URL, keep-best by (n_chars DESC, doc_id ASC) — the cheapest dedup rung, one hash-partitioned window on the canon key",
      (s, dir) => {
        val w = Window.partitionBy("canon_url")
        T.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            canonicalize(rawUrlCol(col("doc_id"))).as("canon_url"))
          .withColumn("rn", row_number().over(
            w.orderBy(col("n_chars").desc, col("doc_id"))))
          .withColumn("n_dups", count(lit(1)).over(w))
          .filter(col("rn") === 1 && col("n_dups") >= 2)
          .select(col("canon_url"), col("n_dups"),
            col("doc_id").as("kept_doc_id"),
            col("n_chars").as("kept_n_chars"))
          .orderBy(col("n_dups").desc, col("canon_url"))
      },
      s"""WITH $CanonSqlCtes,
         |r AS (
         |  SELECT canon_url, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY canon_url
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY canon_url) AS n_dups
         |  FROM canon)
         |SELECT canon_url, n_dups, doc_id AS kept_doc_id,
         |  n_chars AS kept_n_chars
         |FROM r WHERE rn = 1 AND n_dups >= 2
         |ORDER BY n_dups DESC, canon_url""".stripMargin),

    "web_domain_prior" -> Q(
      "CCNet-style domain prior: per registered domain doc count / host count / mean length, broadcast-joined back onto each page — the quality prior join",
      (s, dir) => {
        val canon = T.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            hostOf(rawUrlCol(col("doc_id"))).as("host"))
          .withColumn("domain", domainOf(col("host")))
          // consumed by the prior build AND the page stream: persisting
          // the 4-column frame parses each URL once
          .persist()
        val prior = canon.groupBy("domain").agg(
          count(lit(1)).as("domain_docs"),
          countDistinct(col("host")).as("domain_hosts"),
          (sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("domain_avg_chars"))
        canon.filter(col("doc_id") < 200)
          .join(broadcast(prior), "domain")
          .select(col("doc_id"), col("domain"), col("domain_docs"),
            col("domain_hosts"), col("domain_avg_chars"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $CanonSqlCtes,
         |cd AS (SELECT doc_id, n_chars, host, $DomainSql AS domain
         |       FROM canon),
         |prior AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS domain_docs,
         |    CAST(COUNT(DISTINCT host) AS BIGINT) AS domain_hosts,
         |    CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |      AS domain_avg_chars
         |  FROM cd GROUP BY domain)
         |SELECT cd.doc_id, cd.domain, p.domain_docs, p.domain_hosts,
         |  p.domain_avg_chars
         |FROM cd JOIN prior p ON p.domain = cd.domain
         |WHERE cd.doc_id < 200
         |ORDER BY cd.doc_id""".stripMargin),

    "url_quality_gate" -> Q(
      "RefinedWeb-style URL quality gate: path depth, param count, path digit density, tracking/odd-port flags and the pass verdict — the URL-feature filter a crawl pipeline runs before fetching content",
      (s, dir) => {
        withGateFeatures(T.documents(s, dir)
            .withColumn("raw_url", rawUrlCol(col("doc_id")))
            .withColumn("url", urlParts(col("raw_url"))))
          .select(col("doc_id"), col("path_depth"), col("n_params"),
            col("digit_frac"), col("tracked"), col("odd_port"), col("pass"))
          .orderBy(col("doc_id"))
      },
      s"""WITH $CanonSqlCtes,
         |f AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(pth, '/')) - 1 AS BIGINT) AS path_depth,
         |    CASE WHEN qs = '' THEN CAST(0 AS BIGINT)
         |      ELSE CAST(len(string_split(qs, '&')) AS BIGINT) END AS n_params,
         |    CASE WHEN length(pth) = 0 THEN 0.0 ELSE
         |      CAST(length(pth) - length(regexp_replace(pth, '[0-9]', '', 'g'))
         |        AS DOUBLE) / CAST(length(pth) AS DOUBLE) END AS digit_frac,
         |    contains(raw_url, 'utm_') AS tracked,
         |    port <> '' AS odd_port
         |  FROM c6)
         |SELECT *,
         |  NOT tracked AND n_params <= 2 AND path_depth <= 4
         |    AND digit_frac <= 0.5 AS pass
         |FROM f ORDER BY doc_id""".stripMargin),

    "url_gate_adversarial" -> Q(
      "URL canonicalization + gate totality fence over shapes the synthetic corpus never emits — scheme-less, single-label host, empty path (the 0/0 digit_frac guard), query-without-path, port-carrying, root-slash URLs — the fixture is stated literally on BOTH sides so the totality guards are hash-fenced, not just code-reviewed (r13 verdict task #7)",
      (s, _) => {
        import s.implicits._
        withGateFeatures(AdversarialUrls.toDF("doc_id", "raw_url")
            .withColumn("url", urlParts(col("raw_url"))))
          .select(col("doc_id"), col("url.canon_url"), col("url.host"),
            col("url.port"), col("path_depth"), col("n_params"),
            col("digit_frac"), col("tracked"), col("odd_port"), col("pass"))
          .orderBy(col("doc_id"))
      },
      s"""WITH raw AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id, raw_url
         |  FROM (VALUES $AdversarialUrlsSql) AS t(doc_id, raw_url)),
         |$CanonChainCtes,
         |f AS (
         |  SELECT doc_id, $CanonUrlSql AS canon_url, host, port,
         |    CAST(len(string_split(pth, '/')) - 1 AS BIGINT) AS path_depth,
         |    CASE WHEN qs = '' THEN CAST(0 AS BIGINT)
         |      ELSE CAST(len(string_split(qs, '&')) AS BIGINT) END AS n_params,
         |    CASE WHEN length(pth) = 0 THEN CAST(0 AS DOUBLE) ELSE
         |      CAST(length(pth) - length(regexp_replace(pth, '[0-9]', '', 'g'))
         |        AS DOUBLE) / CAST(length(pth) AS DOUBLE) END AS digit_frac,
         |    contains(raw_url, 'utm_') AS tracked,
         |    port <> '' AS odd_port
         |  FROM c6)
         |SELECT *,
         |  NOT tracked AND n_params <= 2 AND path_depth <= 4
         |    AND digit_frac <= 0.5 AS pass
         |FROM f ORDER BY doc_id""".stripMargin))
}
