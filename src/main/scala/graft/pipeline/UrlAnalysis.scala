package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL structure signals for web-corpus curation: scheme/host/registered-
  * domain extraction, path/query shape, and domain-level filtering — the
  * standard pre-training steps (C4/RefinedWeb-style source filtering, domain
  * mixing, per-domain caps).
  *
  * Everything here is row-local and whole-stage-codegen'd: parsing is
  * `regexp_extract`/`split`/`element_at` (no higher-order functions, no UDFs,
  * no `java.net.URI` driver objects), so at 100 TB the signals ride the scan
  * with zero shuffles; only [[domainFrequency]] aggregates (one partial-agg
  * shuffle of (domain, count) pairs).
  */
object UrlAnalysis {

  /** Multi-label public suffixes where the registered domain needs THREE
    * labels (host `shop.example.co.uk` registers `example.co.uk`). A compact
    * bundled subset of the public-suffix list covering the dominant ccTLD
    * second-level registries; the full PSL drops in as a bigger literal set
    * without changing the plan shape (`isin` compiles to an O(1) `InSet`).
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "gov.uk", "ac.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "net.nz", "org.nz",
    "com.br", "net.br", "org.br", "gov.br",
    "com.mx", "com.ar", "com.co", "com.pe", "com.ve",
    "co.in", "net.in", "org.in", "ac.in", "gov.in",
    "co.za", "org.za", "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.tw", "com.hk", "com.sg", "com.my", "co.th", "co.id", "com.ph", "com.vn",
    "com.tr", "com.eg", "co.il", "com.sa", "com.pk", "com.ng", "co.ke")

  private val schemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://.*"
  private val hostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+).*"
  private val portRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+:([0-9]+).*"
  private val pathRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*).*"
  private val queryRe = "^[^?#]*\\?([^#]*).*"
  private val ipv4HostRe = "^[0-9]{1,3}(\\.[0-9]{1,3}){3}$"

  /** URL scheme (lowercased), or null for non-URL strings. */
  def scheme(url: Column): Column =
    nullIfEmpty(lower(regexp_extract(url, schemeRe, 1)))

  /** Hostname (lowercased, user-info and port stripped), or null. */
  def host(url: Column): Column =
    nullIfEmpty(lower(regexp_extract(url, hostRe, 1)))

  /** Explicit port, or null when the URL carries none. */
  def port(url: Column): Column =
    nullIfEmpty(regexp_extract(url, portRe, 1)).cast("int")

  /** Path component including the leading slash, or null when absent. */
  def path(url: Column): Column =
    nullIfEmpty(regexp_extract(url, pathRe, 1))

  /** Raw query string (no leading `?`), or null when absent. */
  def query(url: Column): Column =
    nullIfEmpty(regexp_extract(url, queryRe, 1))

  /** Registered (pay-level) domain: the suffix plus one label —
    * `a.b.example.com` → `example.com`, `shop.example.co.uk` →
    * `example.co.uk` (via [[MultiLabelSuffixes]]). IP-literal hosts and
    * single-label hosts return the host unchanged.
    */
  def registeredDomain(url: Column): Column = registeredDomainOfHost(host(url))

  /** [[registeredDomain]] over an already-extracted host column. */
  def registeredDomainOfHost(h: Column): Column = {
    val labels = split(h, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3 = concat_ws(".", element_at(labels, -3), last2)
    when(h.isNull, lit(null).cast("string"))
      .when(h.rlike(ipv4HostRe) || n < 2, h)
      .when(last2.isin(MultiLabelSuffixes: _*) && n >= 3, last3)
      .otherwise(last2)
  }

  /** Number of non-empty path segments (`/a/b/` → 2; no path → 0). */
  def pathDepth(url: Column): Column = {
    val p = path(url)
    val trimmed = regexp_replace(p, "^/+|/+$", "")
    when(p.isNull || trimmed === "", lit(0)).otherwise(size(split(trimmed, "/+")))
  }

  /** Number of `&`-separated query parameters (no query → 0). */
  def numQueryParams(url: Column): Column = {
    val q = query(url)
    when(q.isNull || q === "", lit(0)).otherwise(size(split(q, "&")))
  }

  /** All signals at once as named columns appended to `df`:
    * `{prefix}_scheme/host/registered_domain/path_depth/n_query_params/is_ip_host`.
    * One projection, fully codegen'd — at scale this is a free rider on
    * whatever scan feeds it.
    */
  def urlSignals(df: DataFrame, urlCol: String, prefix: String = "url"): DataFrame = {
    val u = col(urlCol)
    val h = host(u)
    df.withColumns(Map(
      s"${prefix}_scheme" -> scheme(u),
      s"${prefix}_host" -> h,
      s"${prefix}_registered_domain" -> registeredDomainOfHost(h),
      s"${prefix}_path_depth" -> pathDepth(u),
      s"${prefix}_n_query_params" -> numQueryParams(u),
      s"${prefix}_is_ip_host" -> coalesce(h.rlike(ipv4HostRe), lit(false))))
  }

  /** Per-registered-domain document counts, descending. ONE partial-agg
    * shuffle: map-side combine reduces each partition to its distinct
    * domains before anything moves.
    */
  def domainFrequency(df: DataFrame, urlCol: String): DataFrame =
    df.select(registeredDomain(col(urlCol)).as("registered_domain"))
      .where(col("registered_domain").isNotNull)
      .groupBy("registered_domain").agg(count(lit(1)).as("n_docs"))

  /** Drop (or keep, `allow = true`) rows whose registered domain is in a
    * small literal list — compiles to an `InSet` probe, no join. For
    * list sizes where a literal set no longer fits a task binary, use
    * [[filterByDomainTable]].
    */
  def filterByDomains(df: DataFrame, urlCol: String, domains: Seq[String],
                      allow: Boolean = false): DataFrame = {
    val inList = registeredDomain(col(urlCol)).isin(domains: _*)
    df.where(if (allow) coalesce(inList, lit(false)) else !coalesce(inList, lit(false)))
  }

  /** Blocklist/allowlist as a table: broadcast anti join (block) or semi join
    * (allow) against a 1-column `domain` frame — the corpus side never
    * shuffles. For blocklists too big to broadcast, drop the hint and let AQE
    * pick the join; the corpus then shuffles once on the domain key.
    */
  def filterByDomainTable(df: DataFrame, urlCol: String, domains: DataFrame,
                          allow: Boolean = false, hintBroadcast: Boolean = true): DataFrame = {
    require(domains.columns.contains("domain"),
      s"domain table needs a 'domain' column, got: ${domains.columns.mkString(", ")}")
    val slim = domains.select(col("domain").cast("string")).where(col("domain").isNotNull).distinct()
    val keyed = if (hintBroadcast) broadcast(slim) else slim
    val withDom = df.withColumn("__graft_reg_domain", registeredDomain(col(urlCol)))
    val joined =
      if (allow) withDom.join(keyed, withDom("__graft_reg_domain") === keyed("domain"), "left_semi")
      else withDom.join(keyed, withDom("__graft_reg_domain") === keyed("domain"), "left_anti")
    joined.drop("__graft_reg_domain")
  }

  /** Keep at most `maxDocs` rows per registered domain — the per-domain cap
    * step of web-corpus curation (throttles boilerplate-heavy megadomains).
    * The draw is [[Curation.quotaSample]]'s deterministic hash order, so
    * reruns keep the same rows. Rows with no parseable domain pass through
    * uncapped. One shuffle on the domain key; skew-safe because the quota
    * window only ranks, never collects a group.
    */
  def capPerDomain(df: DataFrame, urlCol: String, id: Column, maxDocs: Int): DataFrame = {
    val withDom = df.withColumn("__graft_reg_domain", registeredDomain(col(urlCol)))
    val domained = Curation.quotaSample(
      withDom.where(col("__graft_reg_domain").isNotNull),
      Seq("__graft_reg_domain"), id, maxDocs)
    domained.unionByName(withDom.where(col("__graft_reg_domain").isNull))
      .drop("__graft_reg_domain")
  }

  /** Tracking query parameters [[canonicalUrl]] strips: the ad-click and
    * campaign attribution keys (any `utm_*`, Google/Facebook/Microsoft click
    * ids, Mailchimp, Instagram share ids). Alternation compiled into ONE
    * regexp_replace — stays RE2-subset (no lookaround) and codegen'd.
    */
  val TrackingParamPattern: String =
    "utm_[^=&]*|gclid|fbclid|msclkid|dclid|twclid|mc_cid|mc_eid|igshid|yclid"

  /** Canonical form of a URL for exact URL-level dedup (the first dedup pass
    * of a web crawl — cheaper than any content hash because it prunes
    * re-crawls before the fetch/text pipeline runs):
    *
    *  - scheme and host lowercased, one leading `www.` stripped
    *  - default ports dropped (`:80` for http, `:443` for https); others kept
    *  - fragment dropped
    *  - tracking params ([[TrackingParamPattern]]) removed; survivors sorted
    *    byte-wise so param order never splits a dup group
    *  - path trailing slashes trimmed; empty path becomes `/`
    *
    * Strings that don't parse as scheme://host URLs pass through unchanged
    * (they form their own dedup keys — a canonicalizer must never merge
    * unrelated junk into one group). Pure regexp/split/array_sort chain:
    * row-local, no HOFs, fully codegen'd.
    */
  def canonicalUrl(url: Column): Column = {
    val sch = scheme(url)
    val h = regexp_replace(host(url), "^www\\.", "")
    val p = port(url)
    val portPart = when(
      p.isNull || (sch === "http" && p === 80) || (sch === "https" && p === 443),
      lit("")).otherwise(concat(lit(":"), p.cast("string")))
    val rawPath = regexp_replace(coalesce(path(url), lit("")), "/+$", "")
    val pathPart = when(rawPath === "", lit("/")).otherwise(rawPath)
    // drop tracking params (leading or &-joined), then resplit/sort the rest
    val qStripped = regexp_replace(coalesce(query(url), lit("")),
      s"(?:^|&)(?:$TrackingParamPattern)=[^&]*", "")
    val params = array_sort(array_remove(split(qStripped, "&+"), ""))
    val queryPart = when(size(params) > 0,
      concat(lit("?"), concat_ws("&", params))).otherwise(lit(""))
    when(host(url).isNull, url)
      .otherwise(concat(sch, lit("://"), h, portPart, pathPart, queryPart))
  }

  /** Keep one row per canonical URL (first by `orderCol` — deterministic).
    * ONE hash shuffle on the canonical key; the standard crawl-level dedup
    * before any content-based pass. Rows with a NULL url pass through
    * undeduplicated (a window over the null key would silently collapse
    * every fetch-failure row into one survivor — same exemption as
    * [[capPerDomain]]).
    */
  def dedupByCanonicalUrl(df: DataFrame, urlCol: String, orderCol: Column): DataFrame = {
    val withKey = df.withColumn("__graft_canon_url", canonicalUrl(col(urlCol)))
    Dedup.dedupExact(withKey.where(col("__graft_canon_url").isNotNull),
        Seq(col("__graft_canon_url")), orderCol)
      .unionByName(withKey.where(col("__graft_canon_url").isNull))
      .drop("__graft_canon_url")
  }

  private def nullIfEmpty(c: Column): Column = when(c === "", lit(null).cast("string")).otherwise(c)
}
