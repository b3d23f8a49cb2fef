package graft

import org.apache.spark.sql.functions._
import graft.ops.Web

/** URL hygiene specs: parsing grammar edges, canonicalization rules,
  * registrable-domain folding, and the blocklist filter's broadcast plan. */
class WebSpec extends SparkSpec {

  private def one(u: String): (String, String, String, String, String) = {
    import spark.implicits._
    Seq(u).toDF("u")
      .select(Web.urlScheme(col("u")), Web.urlHost(col("u")),
        Web.urlPortStr(col("u")), Web.urlPath(col("u")),
        Web.urlQuery(col("u")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).head
  }

  private def norm(u: String): Option[String] = {
    import spark.implicits._
    Seq(u).toDF("u").select(Web.normalizeUrl(col("u"))).collect()
      .map(r => Option(r.getString(0))).head
  }

  test("urlParts: full grammar, userinfo, ports, missing pieces") {
    assert(one("HTTPS://User:pw@WWW.Example.COM:8443/A/b?x=1&y=2#frag") ==
      ("https", "www.example.com", "8443", "/A/b", "x=1&y=2"))
    assert(one("http://example.com") == ("http", "example.com", "", "", ""))
    assert(one("ftp://files.example.org/pub/x.txt") ==
      ("ftp", "files.example.org", "", "/pub/x.txt", ""))
    // not an absolute URL: every part ''
    assert(one("example.com/path") == ("", "", "", "", ""))
    // two @: userinfo strips through the LAST @
    assert(one("http://a@b@host.net/p")._2 == "host.net")
  }

  test("normalizeUrl: case fold, default ports, tracking strip, param sort, " +
      "fragment drop, empty path, junk -> null") {
    assert(norm("HTTP://WWW.Example.COM:80/Path?b=2&a=1#sec")
      .contains("http://www.example.com/Path?a=1&b=2"))
    // https default port stripped; non-default kept; http:443 is NOT default
    assert(norm("https://e.com:443/x").contains("https://e.com/x"))
    assert(norm("https://e.com:8443/x").contains("https://e.com:8443/x"))
    assert(norm("http://e.com:443/x").contains("http://e.com:443/x"))
    // tracking params drop even when they are the whole query
    assert(norm("http://e.com/p?utm_source=a&utm_medium=b")
      .contains("http://e.com/p"))
    // bare ref is functional (GitHub ?ref=<branch>) and KEPT; ref_src drops
    assert(norm("http://e.com/p?gclid=1&id=7&fbclid=2&ref=rss&ref_src=tw")
      .contains("http://e.com/p?id=7&ref=rss"))
    // empty path canonicalizes to /; userinfo dropped
    assert(norm("http://u:p@E.com").contains("http://e.com/"))
    // path case preserved (paths are case-sensitive)
    assert(norm("http://e.com/CaseSensitive").contains("http://e.com/CaseSensitive"))
    assert(norm("not a url").isEmpty)
    assert(norm("").isEmpty)
  }

  test("urlQuery is anchored: '?' inside the fragment is NOT a query") {
    // SPA hash route: the only '?' sits in the fragment — query must be ''
    assert(one("http://e.com/p#/view?id=3")._5 == "")
    // and the canonical form equals the fragment-free URL's canonical form
    assert(norm("http://e.com/p#/view?id=3") == norm("http://e.com/p"))
    assert(norm("http://e.com/p#/view?id=3").contains("http://e.com/p"))
    // a real query followed by a '?'-bearing fragment still ends at '#'
    assert(one("http://e.com/p?a=1#/view?id=3")._5 == "a=1")
    assert(norm("http://e.com/p?a=1#/view?id=3")
      .contains("http://e.com/p?a=1"))
  }

  test("registrableDomain: two labels, second-level registries, single label") {
    import spark.implicits._
    val got = Seq("www.bbc.co.uk", "news.example.com", "a.b.c.example.com.au",
        "example.org", "localhost", "deep.sub.example.ac.jp")
      .toDF("h").select(Web.registrableDomain(col("h"))).collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq("bbc.co.uk", "example.com", "example.com.au",
      "example.org", "localhost", "example.ac.jp"))
  }

  test("withUrlParts + domainStats: per-domain aggregation, junk row visible") {
    import spark.implicits._
    val docs = Seq(
      ("http://www.a.com/1", "xxxx"), ("https://blog.a.com/2?utm_source=f", "yy"),
      ("http://b.co.uk/", "zzz"), ("junk", "qq")).toDF("url", "text")
    val stats = Web.domainStats(docs, "url", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stats == Set(("a.com", 2L, 2L, 6L), ("b.co.uk", 1L, 1L, 3L),
      ("", 1L, 1L, 2L)))
  }

  test("urlDedup: variants fold to one canonical row, junk excluded, " +
      "kept id deterministic") {
    import spark.implicits._
    val crawl = Seq(
      (1L, "http://A.com/x?utm_source=1"),  // tracking-only query drops
      (2L, "HTTP://a.com:80/x"),            // default port + case noise
      (3L, "http://a.com/x#frag"),          // fragment drops
      (4L, "junk"),                          // no canonical form -> excluded
      (5L, "http://b.org/")).toDF("id", "url")
    val got = Web.urlDedup(crawl, "id", "url").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "http://a.com/x" -> ((1L, 3L)),
      "http://b.org/" -> ((5L, 1L))))
  }

  test("filterBlockedDomains: domain-level anti-join, broadcast plan") {
    import spark.implicits._
    val docs = Seq("http://www.bad.com/x", "http://sub.bad.com/y",
        "http://good.org/z", "http://bad.com.evil.net/w")
      .toDF("url")
    val blocked = Seq("bad.com").toDF("domain")
    val out = Web.filterBlockedDomains(docs, "url", blocked)
    assert(out.collect().map(_.getString(0)).toSet ==
      Set("http://good.org/z", "http://bad.com.evil.net/w"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(800))
  }

  test("robotsRules: star-group resolution (multi-agent blocks, ignored " +
      "non-star groups, orphan rules, empty Disallow)") {
    import spark.implicits._
    val txt =
      "Disallow: /orphan\n" +            // before any group: ignored
      "User-agent: bot\nDisallow: /\n" + // non-star group: ignored
      "User-agent: a\nUser-agent: *\n" + // multi-agent block with star
      "Disallow: /private\nAllow: /private/ok\nDisallow:\n" + // empty: none
      "User-agent: c\nDisallow: /c-only\n" +
      "user-agent: *\nDISALLOW: /shout"  // case-insensitive fields
    val got = Web.robotsRules(Seq(("d.com", txt)).toDF("domain", "txt"),
        "domain", "txt")
      .orderBy("rule_path").collect()
      .map(r => (r.getString(1), r.getInt(2)))
    assert(got.toSeq == Seq(("/private", 0), ("/private/ok", 1),
      ("/shout", 0)))
  }

  test("robotsAllowed: longest match wins, allow wins length ties, no " +
      "match allows, root path normalized") {
    import spark.implicits._
    val rules = Seq(
      ("d.com", "/a", 0), ("d.com", "/a/b", 1),
      ("d.com", "/t", 0), ("d.com", "/t", 1), // same length: allow wins
      ("d.com", "/", 0)).toDF("domain", "rule_path", "is_allow")
    val urls = Seq("https://d.com/a/x", "https://d.com/a/b/y",
      "https://d.com/t", "https://d.com", "https://other.com/q")
      .toDF("url")
    val got = Web.robotsAllowed(urls, "url", rules)
      .orderBy("url").collect()
      .map(r => (r.getString(0), r.getString(2),
        Option(r.getString(3)), r.getInt(4)))
    assert(got.toSeq == Seq(
      ("https://d.com", "/", Some("/"), 0),         // '' → '/' matches /
      ("https://d.com/a/b/y", "/a/b/y", Some("/a/b"), 1),
      ("https://d.com/a/x", "/a/x", Some("/a"), 0),
      ("https://d.com/t", "/t", Some("/t"), 1),     // tie → allow
      ("https://other.com/q", "/q", None, 1)))      // no rules: allowed
  }

  test("keySkew: exact ppm shares, null keys profiled, deterministic " +
      "ranks") {
    import spark.implicits._
    val df = Seq("a", "a", "a", "b", "b", "c", null, null, null, null)
      .toDF("k")
    val got = graft.ops.Profile.keySkew(df, "k", topK = 3)
      .orderBy("rank").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getInt(3)))
    assert(got.toSeq == Seq(
      (None, 4L, 400000L, 1), (Some("a"), 3L, 300000L, 2),
      (Some("b"), 2L, 200000L, 3)))
  }
}
