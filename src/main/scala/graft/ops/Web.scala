package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL hygiene — the FIRST gate of a web-corpus pipeline (RefinedWeb,
  * Penedo et al. 2023 §3.1: URL filtering runs before any content is even
  * fetched/parsed; CCNet dedups by normalized URL before text dedup).
  * Three surfaces:
  *
  *   - parsing: scheme / host / port / path / query / fragment as pure
  *     `regexp_extract` Column packs over the absolute-URL grammar
  *     (RFC 3986 reduced to its ASCII web subset);
  *   - canonicalization: [[normalizeUrl]] — the dedup key for crawl
  *     frontier + URL-level dedup (case-fold scheme/host, strip userinfo /
  *     default ports / fragments / tracking params, sort the surviving
  *     query params);
  *   - the domain tier: [[registrableDomain]] (heuristic public-suffix
  *     fold) feeding per-domain stats and blocklist filtering — domain is
  *     the unit at which crawl policy, spam lists, and quality priors
  *     operate.
  *
  * Everything is codegen'd expression work (regexp_extract / filter /
  * array_sort — no UDFs), map-only until an explicitly output-sized
  * aggregation, and restricted to the RE2-safe regex subset so a DuckDB
  * oracle replays every derivation byte-for-byte (q127/q128).
  *
  * Heuristic scope (documented, not hidden): absolute `scheme://` URLs
  * only — rows that do not match the scheme grammar yield NULL from
  * [[normalizeUrl]] and '' parts (the corpus-filter contract: junk URLs
  * are data to drop, not errors); bracketed IPv6 authorities and
  * percent-encoding equivalence (`%7E` vs `~`) are out of scope — the
  * parser-grade 1% needs a URL library, the crawl-frontier 99% needs
  * throughput. [[registrableDomain]] folds a fixed list of common
  * second-level country registries instead of shipping the full public
  * suffix list; the list is a visible constant a deployment can extend. */
object Web {

  /** `scheme://` prefix grammar (RFC 3986 scheme = ALPHA *( ALPHA / DIGIT
    * / "+" / "-" / "." )). Group 1 = the scheme. */
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Group 1 = the authority (userinfo@host:port — everything between
    * `://` and the first `/`, `?` or `#`). */
  private val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"

  /** Group 1 = the path (leading `/` included), '' when absent. */
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"

  /** Common second-level country registries: a domain ending in one of
    * these needs THREE labels to be registrable (bbc.co.uk, not co.uk).
    * The pragmatic core of the public suffix list — extend per deployment. */
  private[graft] val SecondLevelRe: String =
    "([^.]+\\.(?:co|com|net|org|gov|ac|edu)\\." +
      "(?:uk|jp|au|nz|br|in|za|kr|id|il|mx|sg|tr|ar))$"

  /** Tracking query parameters stripped by [[normalizeUrl]]: the utm_*
    * family plus the major click-id / mail-merge params. Matched against
    * the full `key=value` pair (anchored at the key). Bare `ref` is
    * deliberately NOT in the list — on major sites it is a functional
    * parameter (GitHub's `?ref=<branch>` selects a branch), so stripping
    * it would merge genuinely distinct resources into one dedup/frontier
    * key; only the unambiguous analytics variant `ref_src` is dropped.
    * The list is a visible constant a deployment can extend. */
  private[graft] val TrackingParamRe: String =
    "^(?:utm_[A-Za-z0-9_]+|fbclid|gclid|msclkid|igshid|twclid|mc_cid" +
      "|mc_eid|ref_src)="

  /** Lower-cased scheme, '' when the value is not an absolute URL. */
  def urlScheme(u: Column): Column = lower(regexp_extract(u, SchemeRe, 1))

  private def authority(u: Column): Column = regexp_extract(u, AuthorityRe, 1)

  /** host:port with any userinfo@ stripped (greedy through the LAST `@`,
    * the RFC's own disambiguation). */
  private def hostPort(u: Column): Column =
    regexp_extract(authority(u), "(?:.*@)?([^@]*)$", 1)

  /** Lower-cased host: authority minus userinfo and port. '' for
    * non-absolute URLs. */
  def urlHost(u: Column): Column =
    lower(regexp_replace(hostPort(u), ":[0-9]*$", ""))

  /** Explicit port as a string ('' when absent — kept as string so the
    * pack stays total: no ANSI cast can throw on junk). */
  def urlPortStr(u: Column): Column =
    regexp_extract(hostPort(u), ":([0-9]+)$", 1)

  /** Path with its leading `/`, '' when absent (normalization maps '' to
    * `/`; the raw parser reports what is there). */
  def urlPath(u: Column): Column = regexp_extract(u, PathRe, 1)

  /** Raw query string (between `?` and `#`/end), '' when absent. The
    * pattern is anchored through the authority and path so a `?` that
    * first appears inside the FRAGMENT (SPA hash routes like
    * `/p#/view?id=3`) is never mistaken for a query — two URLs differing
    * only in fragment content must canonicalize identically. Like the
    * rest of the raw-parser family (urlHost/urlPath/...), this applies
    * to ABSOLUTE URLs only: a scheme-less/relative input ('/search?q=x')
    * returns '' even when it carries a real query. */
  def urlQuery(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)", 1)

  /** Registrable domain of an (already lower-cased) host: the last two
    * labels, or the last THREE when the host ends in a known second-level
    * country registry ([[SecondLevelRe]]); single-label hosts (localhost,
    * intranet names) pass through unchanged. */
  def registrableDomain(host: Column): Column = {
    val three = regexp_extract(host, SecondLevelRe, 1)
    val two = regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    when(three =!= "", three).when(two =!= "", two).otherwise(host)
  }

  /** Canonical URL — the URL-dedup / crawl-frontier key:
    *
    *   - scheme and host lower-cased, userinfo dropped;
    *   - default ports stripped (http:80, https:443); other explicit
    *     ports kept (a non-default port IS a different origin);
    *   - empty path canonicalized to `/` (example.com ≡ example.com/);
    *     path case and encoding otherwise untouched (paths are
    *     case-sensitive by spec);
    *   - query params split on `&`, empty and tracking params
    *     ([[TrackingParamRe]]) dropped, survivors SORTED byte-wise and
    *     rejoined — param order is serving-equivalent but byte-distinct,
    *     exactly what a dedup key must fold;
    *   - fragment dropped (client-side only).
    *
    * NULL for values that do not match the absolute-URL grammar — the
    * corpus-filter contract (a junk URL has no canonical form; let the
    * caller count/drop the nulls). */
  def normalizeUrl(u: Column): Column = {
    val scheme = urlScheme(u)
    val host = urlHost(u)
    val port = urlPortStr(u)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val path0 = urlPath(u)
    val path = when(path0 === "", "/").otherwise(path0)
    val params = array_sort(filter(split(urlQuery(u), "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe)))
    val q = array_join(params, "&")
    when(scheme === "", lit(null).cast("string")).otherwise(concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** The parsed-URL projection: adds `scheme, host, domain, path,
    * norm_url` beside the input columns. One map-only scan — feed the
    * domain tier ([[domainStats]], [[filterBlockedDomains]]) or group by
    * `norm_url` for URL-level dedup. */
  def withUrlParts(docs: DataFrame, urlCol: String): DataFrame =
    docs
      .withColumn("scheme", urlScheme(col(urlCol)))
      .withColumn("host", urlHost(col(urlCol)))
      .withColumn("domain", registrableDomain(urlHost(col(urlCol))))
      .withColumn("path", urlPath(col(urlCol)))
      .withColumn("norm_url", normalizeUrl(col(urlCol)))

  /** URL-level dedup table — the crawl-frontier fold (RefinedWeb §3.1,
    * CCNet: URL dedup runs before any text processing because it is the
    * only dedup that costs no content bytes at all): one row per canonical
    * URL with the kept representative (smallest id — deterministic) and
    * the number of crawl variants that folded into it. Rows whose URL has
    * no canonical form ([[normalizeUrl]] NULL — junk) are excluded: they
    * have no fold identity; count them upstream if the drop rate matters.
    *
    * Scale shape: one map-only canonicalization pass and ONE hash
    * aggregate keyed on `norm_url` (map-side partials absorb the
    * hot-URL skew of repeatedly-crawled pages); output is
    * distinct-URL-sized. Output: (norm_url, kept_id, n_variants). */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol).as("_uid"), normalizeUrl(col(urlCol)).as("norm_url"))
      .where(col("norm_url").isNotNull)
      .groupBy(col("norm_url"))
      .agg(min(col("_uid")).as("kept_id"), count(lit(1)).as("n_variants"))

  /** Per-registrable-domain corpus stats: `(domain, n_docs, n_hosts,
    * n_chars)` — the table crawl policy and quality priors key on.
    * ONE hash aggregation whose output is domain-count-sized (map-side
    * partials absorb the per-domain skew of big sites); `n_hosts` is an
    * exact distinct (two-level agg), right at the ≤ hosts-per-domain
    * cardinality this table exists to expose. Junk URLs ('' host) land in
    * the '' row — visible, not silently dropped. */
  def domainStats(docs: DataFrame, urlCol: String, textCol: String): DataFrame =
    docs
      .select(registrableDomain(urlHost(col(urlCol))).as("domain"),
        urlHost(col(urlCol)).as("_host"),
        length(col(textCol)).cast("long").as("_len"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_host")).as("n_hosts"),
        sum(col("_len")).as("n_chars"))

  /** Drop every document whose registrable domain appears in `blocked`
    * (one `domain STRING` column — spam/adult/SEO-farm lists are
    * domain-keyed). Blocklists are small against a corpus: Spark
    * broadcasts the anti-join build side (plan-asserted in WebSpec), so
    * the filter is map-only at any corpus size. */
  def filterBlockedDomains(docs: DataFrame, urlCol: String,
                           blocked: DataFrame): DataFrame = {
    require(blocked.columns.contains("domain"),
      "filterBlockedDomains: blocklist needs a 'domain' column")
    docs.join(
      broadcast(blocked.select(col("domain").as("_blocked_domain")).distinct()),
      registrableDomain(urlHost(col(urlCol))) === col("_blocked_domain"),
      "left_anti")
  }

  /** Parse per-domain robots.txt into the `User-agent: *` group's rule
    * table — the crawl-compliance front door (RFC 9309, the subset a
    * generic crawler honors): each (domain, robots text) row yields
    * (domain, rule_path, is_allow) for every Allow/Disallow line whose
    * governing user-agent GROUP (one or more consecutive `User-agent:`
    * lines) names `*`. Stated simplifications, deterministic on purpose:
    * path patterns are LITERAL prefixes (no `*`/`$` wildcards), empty
    * `Disallow:` lines (the allow-all idiom) yield no rule, rules before
    * any user-agent line are ignored (per the RFC), field names match
    * case-insensitively, duplicate rules collapse.
    *
    * Group resolution is relational, not a stateful scan: agent-block
    * ids are a running count of non-agent→agent transitions (one
    * per-domain window over the LINE rows — bounded by the robots file's
    * own line count, kilobytes by convention), and a rule line's block
    * id IS its governing group's id (block ids only increment where
    * agent runs begin). */
  def robotsRules(robots: DataFrame, domainCol: String,
                  txtCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_dom")).orderBy(col("_pos"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = robots.select(col(domainCol).as("_dom"),
        posexplode(split(col(txtCol), "\r?\n")).as(Seq("_pos", "_line")))
      .withColumn("_l", lower(trim(col("_line"))))
      .withColumn("_isAgent", col("_l").startsWith("user-agent:"))
      .withColumn("_isStar",
        col("_isAgent") && trim(expr("substring(_l, 12)")) === "*")
      .withColumn("_newBlock", (col("_isAgent") &&
        !coalesce(lag(col("_isAgent"), 1).over(w), lit(false))).cast("int"))
      .withColumn("_blockId", sum(col("_newBlock")).over(cum))
    val starBlocks = t.where(col("_isAgent"))
      .groupBy(col("_dom"), col("_blockId"))
      .agg(max(col("_isStar").cast("int")).as("_star"))
      .where(col("_star") === 1)
      .select(col("_dom"), col("_blockId"))
    t.where(col("_l").rlike("^(allow|disallow):"))
      .join(starBlocks, Seq("_dom", "_blockId"), "left_semi")
      .select(col("_dom").as("domain"),
        trim(regexp_replace(col("_line"), "(?i)^\\s*(allow|disallow):", ""))
          .as("rule_path"),
        col("_l").startsWith("allow:").cast("int").as("is_allow"))
      .where(col("rule_path") =!= "")
      .distinct()
  }

  /** Apply a [[robotsRules]] table to a URL corpus — per URL, the
    * LONGEST-prefix matching rule decides (RFC 9309 §2.2.2; an
    * Allow/Disallow tie at equal length resolves to Allow, the RFC's
    * own tie-break), no matching rule means allowed. Path '' normalizes
    * to '/' before matching (the robots convention). Rules join on the
    * exact HOST (robots scope is per-authority, not per-registrable-
    * domain). The per-URL decision window sees only that host's matching
    * rules — bounded by one robots file's rule count.
    *
    * Output: the input's columns + (host, path, matched_rule — NULL when
    * no rule matched, allowed INT). */
  def robotsAllowed(urls: DataFrame, urlCol: String,
                    rules: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = urls.withColumn("_host", urlHost(col(urlCol)))
      .withColumn("_path",
        when(urlPath(col(urlCol)) === "", lit("/"))
          .otherwise(urlPath(col(urlCol))))
    val cand = u.select(col(urlCol), col("_host"), col("_path")).distinct()
      .join(rules.select(col("domain").as("_host"), col("rule_path"),
        col("is_allow")), Seq("_host"))
      .where(col("_path").startsWith(col("rule_path")))
    val w = Window.partitionBy(col(urlCol))
      .orderBy(length(col("rule_path")).desc, col("is_allow").desc,
        col("rule_path").asc)
    val best = cand.withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
      .select(col(urlCol), col("rule_path").as("matched_rule"),
        col("is_allow"))
    u.join(best, Seq(urlCol), "left")
      .withColumn("allowed", coalesce(col("is_allow"), lit(1)).cast("int"))
      .withColumnRenamed("_host", "host")
      .withColumnRenamed("_path", "path")
      .drop("is_allow")
  }
}
