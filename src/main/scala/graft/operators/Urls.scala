package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL parsing and domain-level curation for web-crawled corpora (north-star
  * extension; SURVEY.md §7 `graft.scale`).
  *
  * A Common-Crawl-shaped training pipeline curates per SITE, not just per
  * document: parse every URL once, roll documents up to their registered
  * domain, cap the per-domain document count (one template-heavy site must
  * not dominate the corpus), and report domain concentration. Everything
  * here is per-row regexp/codegen compute plus ONE aggregation keyed by
  * domain — the natural shuffle key, low-cardinality relative to documents,
  * so the rollup combines map-side and the cap never sorts globally
  * (`WindowGroupLimit` per domain).
  *
  * Parsing is deliberately regex-based (no java.net.URI driver objects, no
  * UDFs): the exact same patterns run as RE2 in DuckDB, so every component
  * is oracle-checkable, and a malformed URL yields NULL components instead
  * of an exception — at corpus scale malformed URLs are a certainty.
  */
object Urls {

  // every component anchors on a valid `scheme://` prefix so non-URLs
  // yield NULL components (a bare '?x=1' in random text is not a query
  // string); userinfo (`user:pw@`) is consumed greedily up to the LAST
  // '@' in the authority and never reaches the host, port, or domain —
  // varying credentials must not split one site into many cap groups.
  // The host alternation takes a bracketed IPv6 literal (`[2001:db8::1]`)
  // whole — without it the ':' terminator would truncate the capture
  // mid-address. All patterns are RE2-portable (no backrefs/lookaround),
  // so the DuckDB oracle runs the IDENTICAL strings.
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostRe =
    "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?(\\[[^\\]/?#]*\\]|[^/:?#]+)"
  private val PortRe =
    "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?" +
      "(?:\\[[^\\]/?#]*\\]|[^/:?#]+):([0-9]+)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)"
  // the '?' must precede any '#': a '?' inside the fragment is not a query
  private val QueryRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)"

  /** Portable duplicates of the component regexes for oracle construction
    * (the DuckDB side must run the SAME patterns, and a re-typed copy is
    * exactly the drift this export prevents). */
  private[graft] val ComponentRes: Map[String, String] = Map(
    "scheme" -> SchemeRe,
    "host" -> HostRe,
    "port" -> PortRe,
    "path" -> PathRe,
    "query" -> QueryRe
  )

  // hosts that are ADDRESSES, not names: IPv4 dotted-quads and bracketed
  // IPv6 literals have no registered domain — they pass through whole
  // (taking "the last two labels" of 192.168.0.1 would yield "0.1")
  private[graft] val IpHostRe = "^([0-9]{1,3}(\\.[0-9]{1,3}){3}|\\[.*\\])$"

  private def extractOrNull(c: Column, re: String): Column =
    nullif(regexp_extract(c, re, 1), lit(""))

  /** Lowercased registered domain straight from a URL column — the one
    * shared host→domain expression every operator here uses (a single
    * definition keeps cap groups, stats keys, and parseUrls output
    * consistent by construction). */
  private def urlDomain(u: Column, extraSuffixes: Seq[String]): Column =
    registeredDomain(lower(extractOrNull(u, HostRe)), extraSuffixes)

  /** Parse a URL column into `<prefix>scheme/host/port/path/query_string`
    * plus `<prefix>domain` ([[registeredDomain]] of the host). Absent
    * components are NULL (never empty strings), ports are INT, hosts and
    * domains are lowercased; anything without a `scheme://` prefix yields
    * NULL for every component. Each component is extracted independently,
    * so a DEGENERATE authority can yield a partial row: `https://:8080/x`
    * (empty host) parses to a non-NULL scheme and path with NULL
    * host/port/domain — downstream curation keys on the domain, so such
    * rows land in the NULL-domain group either way. Bracketed IPv6 hosts
    * are captured whole (`[2001:db8::1]`); IP-literal hosts pass through
    * [[registeredDomain]] unchanged. Pure per-row codegen'd regexps — no
    * shuffle, no action, column pruning unaffected. */
  def parseUrls(
      df: DataFrame,
      urlCol: String,
      prefix: String = "url_",
      extraSuffixes: Seq[String] = Nil
  ): DataFrame = {
    require(df.columns.contains(urlCol), s"column '$urlCol' does not exist")
    val u = col(urlCol)
    val host = lower(extractOrNull(u, HostRe))
    df.withColumn(s"${prefix}scheme", lower(extractOrNull(u, SchemeRe)))
      .withColumn(s"${prefix}host", host)
      .withColumn(s"${prefix}port", extractOrNull(u, PortRe).cast("int"))
      .withColumn(s"${prefix}path", extractOrNull(u, PathRe))
      .withColumn(s"${prefix}query_string", extractOrNull(u, QueryRe))
      .withColumn(s"${prefix}domain", urlDomain(u, extraSuffixes))
  }

  /** Registered domain of an (already-lowercased) host under the embedded
    * public-suffix list ([[PublicSuffixes.all]], ~2,000 entries incl. the
    * private shared-hosting suffixes) plus `extraSuffixes`: the LONGEST
    * matching suffix rule plus one label, so `shop.example.co.uk` ->
    * `example.co.uk`, `alice.github.io` -> `alice.github.io` (distinct
    * from `bob.github.io` — shared-hosting sites are separate cap
    * groups), and `b.s3.eu-west-1.amazonaws.com` keeps all five labels.
    * Suffix rules are exact, any depth (the embedded list carries 2-4
    * labels; a swapped-in upstream PSL's 5-label rules work too);
    * wildcard/exception PSL rules are not modeled. Single-label hosts (`localhost`), IPv4 and
    * bracketed-IPv6 literals, and NULLs pass through unchanged; a host
    * that IS a bare public suffix degenerates to its last two labels
    * (not a registrable site either way). Matching is per-row O(1) hash
    * lookups (`InSet`), never a scan of the suffix table. Swap the whole
    * list via `baseSuffixes` to run a different policy (e.g. the full
    * upstream PSL read from a file). */
  private def inSet(c: Column, vals: Seq[String]): Column =
    if (vals.isEmpty) lit(false)
    else
      org.apache.spark.sql.GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.InSet(
          org.apache.spark.sql.GraftSqlBridge.expression(c),
          vals
            .map(v =>
              org.apache.spark.unsafe.types.UTF8String.fromString(v): Any
            )
            .toSet
        )
      )

  def registeredDomain(
      host: Column,
      extraSuffixes: Seq[String] = Nil,
      baseSuffixes: Seq[String] = PublicSuffixes.all
  ): Column = {
    val byLen: Map[Int, Seq[String]] =
      (baseSuffixes ++ extraSuffixes)
        .map(_.toLowerCase)
        .distinct
        .groupBy(_.count(_ == '.') + 1)
    // no rule-depth cap: the full upstream PSL has 5-label exact rules
    // (s3.dualstack.<region>.amazonaws.com), and the advertised
    // swap-in-your-own-list contract must accept them — the fold below
    // sizes itself to the deepest rule present
    val maxLen = if (byLen.isEmpty) 0 else byLen.keys.max
    val labels = split(host, "\\.")
    val n = size(labels)
    // lastK(k) is only ever evaluated under an n >= k guard (&& and
    // CaseWhen both short-circuit), so element_at never goes out of
    // bounds — ANSI-mode safe
    def lastK(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    val base = when(host.isNull, lit(null).cast("string"))
      .when(host.rlike(IpHostRe), host)
    (maxLen to 1 by -1)
      .foldLeft(base) { (acc, k) =>
        byLen.get(k) match {
          case Some(rules) =>
            acc.when(n >= k + 1 && inSet(lastK(k), rules), lastK(k + 1))
          case None => acc
        }
      }
      .when(n >= 2, lastK(2))
      .otherwise(host)
  }

  /** SURT (Sort-friendly URI Reordering Transform) canonical URL key —
    * the web-archive convention CDXJ indexes key captures by
    * (`com,example)/p/1?x=2`), so crawl URLs can be joined against a
    * capture index (or sorted so one site's pages are contiguous, the
    * property CC's index files exploit). The canonicalization subset
    * implemented (documented — full wayback "massaging" also strips
    * session params etc.):
    *   - scheme, userinfo, and fragment dropped; host lowercased
    *   - one leading `www.` label stripped (the CC urlkey convention)
    *   - host labels REVERSED and comma-joined (`example.com` →
    *     `com,example`); IPv4/bracketed-IPv6 literals stay unreversed
    *   - a port survives as `:port` ONLY when non-default for the scheme
    *     (http:80 / https:443 drop)
    *   - `)` then the path (empty path → `/`)
    *   - query `k=v` pairs sorted lexicographically, `?`-joined; empty
    *     query drops
    * Non-URLs (NULL host) yield NULL. Pure per-row codegen'd
    * string/array ops — RE2-portable, no UDF, no shuffle. */
  def surtKey(u: Column): Column = {
    val scheme = lower(extractOrNull(u, SchemeRe))
    val host0 = lower(extractOrNull(u, HostRe))
    val host = regexp_replace(host0, "^www\\.", "")
    val hostKey = when(host.rlike(IpHostRe), host)
      .otherwise(array_join(reverse(split(host, "\\.")), ","))
    val port = extractOrNull(u, PortRe).cast("int")
    val defaultPort =
      (scheme === "http" && port === 80) ||
        (scheme === "https" && port === 443)
    val portPart = when(
      port.isNotNull && !defaultPort,
      concat(lit(":"), port.cast("string"))
    ).otherwise(lit(""))
    val path = coalesce(extractOrNull(u, PathRe), lit("/"))
    val query = extractOrNull(u, QueryRe)
    val queryPart = when(
      query.isNotNull,
      concat(lit("?"), array_join(array_sort(split(query, "&")), "&"))
    ).otherwise(lit(""))
    when(
      host.isNotNull && length(host) > 0,
      concat(hostKey, portPart, lit(")"), path, queryPart)
    )
  }

  /** [[surtKey]] as a new column over a URL column. */
  def withSurtKey(
      df: DataFrame,
      urlCol: String,
      outCol: String = "urlkey"
  ): DataFrame = {
    require(df.columns.contains(urlCol), s"column '$urlCol' does not exist")
    require(
      !df.columns.contains(outCol),
      s"output column '$outCol' already exists"
    )
    df.withColumn(outCol, surtKey(col(urlCol)))
  }

  /** True iff the (lowercased) host equals one of `entries` or is a
    * subdomain of one — UT1-blocklist semantics, where listing
    * `badsite.com` bans `badsite.com` AND `www.badsite.com`, and listing
    * `blog.example.org` bans only that subtree. Per-row cost is one
    * O(1) `InSet` hash lookup per DISTINCT entry depth (the
    * [[registeredDomain]] fold shape), never a scan of the list; NULL
    * hosts yield false. Entries are lowercased; list sizes in the
    * millions stay a broadcast-task-binary concern, not a join. */
  def hostMatchesDomains(host: Column, entries: Seq[String]): Column = {
    val byLen: Map[Int, Seq[String]] =
      entries.map(_.toLowerCase).distinct.groupBy(_.count(_ == '.') + 1)
    val labels = split(host, "\\.")
    val n = size(labels)
    def lastK(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    byLen.toSeq
      .sortBy(_._1)
      .foldLeft(lit(false)) { case (acc, (k, vals)) =>
        acc || (n >= k && inSet(lastK(k), vals))
      } && host.isNotNull
  }

  /** Allow/block-list URL filtering — the crawl-curation gate that runs
    * before any content-based scoring. Hosts are parsed with the shared
    * [[parseUrls]] host pattern; matching is [[hostMatchesDomains]]
    * (domain-or-subdomain). Policy:
    *   - `allow` non-empty: a row survives iff its host matches `allow`
    *     and does not match `block` (block overrides); unparseable URLs
    *     (NULL host) are dropped — they cannot prove membership.
    *   - `allow` empty: a row survives iff its host does not match
    *     `block`; NULL hosts survive (they cannot match a ban entry) —
    *     route them to [[domainCap]]'s NULL group or a quality gate
    *     instead of silently losing them here.
    * Pure per-row codegen (regexp + hash lookups) — no shuffle, no
    * action; at 100 TB this is a free rider on the first corpus scan. */
  def filterByDomains(
      df: DataFrame,
      urlCol: String,
      block: Seq[String] = Nil,
      allow: Seq[String] = Nil
  ): DataFrame = {
    require(df.columns.contains(urlCol), s"column '$urlCol' does not exist")
    require(
      block.nonEmpty || allow.nonEmpty,
      "at least one of block/allow must be non-empty"
    )
    val host = lower(extractOrNull(col(urlCol), HostRe))
    val blocked =
      if (block.isEmpty) lit(false) else hostMatchesDomains(host, block)
    if (allow.isEmpty) df.filter(!blocked)
    else df.filter(hostMatchesDomains(host, allow) && !blocked)
  }

  /** Cap the documents kept per registered domain at `maxPerDomain`,
    * chosen by the deterministic md5 hash order of `idCol` (+ `salt` for
    * an independent re-draw) — an unbiased per-site subsample, the
    * anti-template-site guard every crawled corpus applies before
    * training. Unparseable URLs (NULL domain) form their own group and are
    * capped too (they would otherwise ride in uncapped). Rows keep all
    * input columns plus `<prefix>domain`; per-domain ranking is
    * `WindowGroupLimit` — no global sort, state bounded by the cap. */
  def domainCap(
      df: DataFrame,
      urlCol: String,
      idCol: String,
      maxPerDomain: Int,
      salt: String = "",
      prefix: String = "url_",
      extraSuffixes: Seq[String] = Nil
  ): DataFrame = {
    require(maxPerDomain >= 1, "maxPerDomain must be >= 1")
    val withDomain = df.withColumn(
      s"${prefix}domain",
      urlDomain(col(urlCol), extraSuffixes)
    )
    TopN
      .firstRow(
        withDomain.withColumn("__bk", Splits.hashBucket(col(idCol), salt)),
        n = maxPerDomain,
        partitionBy = Seq(col(s"${prefix}domain")),
        orderBy = Seq(col("__bk"), col(idCol))
      )
      .drop("__bk")
  }

  /** Per-domain concentration report: document count and corpus share per
    * registered domain — the "is one site dominating the corpus" dashboard
    * that motivates [[domainCap]]. One map-side-combined aggregate keyed by
    * domain; the denominator is a broadcast 1-row total (NEVER an
    * unpartitioned window — at web scale the domain table itself is
    * millions of rows and must not funnel through one task). */
  def domainStats(
      df: DataFrame,
      urlCol: String,
      extraSuffixes: Seq[String] = Nil
  ): DataFrame = {
    val perDomain = df
      .select(urlDomain(col(urlCol), extraSuffixes).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"))
    val total = perDomain.agg(sum("n_docs").as("__total"))
    perDomain
      .crossJoin(broadcast(total))
      .withColumn(
        "share",
        round(col("n_docs").cast("double") / col("__total"), 6)
      )
      .drop("__total")
  }
}
