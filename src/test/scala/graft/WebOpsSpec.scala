package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.WebOps

class WebOpsSpec extends AnyFunSuite with SparkSpec {

  private def norm(urls: String*): Seq[(String, String, String, String)] = {
    val sp = spark; import sp.implicits._
    WebOps.parseUrls(urls.toDF("url"), col("url"))
      .select("scheme", "host", "domain", "url_norm")
      .as[(String, String, String, String)].collect().toSeq
  }

  test("parseUrls normalizes case, fragments, default ports, userinfo, empty paths") {
    assert(norm("HTTPS://Example.COM") ==
      Seq(("https", "example.com", "example.com", "https://example.com/")))
    assert(norm("http://a.example.com:80/x?q=1#frag") ==
      Seq(("http", "a.example.com", "example.com", "http://a.example.com/x?q=1")))
    assert(norm("https://example.com:443/") ==
      Seq(("https", "example.com", "example.com", "https://example.com/")))
    assert(norm("http://example.com:8080/p") ==
      Seq(("http", "example.com", "example.com", "http://example.com:8080/p")))
    assert(norm("https://user:pw@sub.b.example.org:443/d#x") ==
      Seq(("https", "sub.b.example.org", "example.org", "https://sub.b.example.org/d")))
  }

  test("parseUrls: non-URLs parse to empty fields, never error") {
    assert(norm("not a url", "", "ftp://files.example.net/a.txt").map(_._1) ==
      Seq("", "", "ftp"))
    assert(norm("not a url").head._4 == "")
  }

  test("dedupByUrl groups normalized variants and keeps the min id") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (10L, "https://Example.com/a#one"),
      (3L, "HTTPS://example.COM:443/a"),
      (7L, "https://example.com/b")).toDF("doc_id", "url")
    val got = WebOps.dedupByUrl(WebOps.parseUrls(docs, col("url")), col("doc_id"))
      .select("url_norm", "keep_id", "n_dupes")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("https://example.com/a", 3L, 2L), ("https://example.com/b", 7L, 1L)))
  }

  test("filterBlockedDomains drops blocklisted registrable domains via broadcast anti-join") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "https://ok.example.com/x"),
      (2L, "http://bad.example.org/y"),
      (3L, "https://example.org/z")).toDF("doc_id", "url")
    val blocked = Seq("example.org").toDF("domain")
    val kept = WebOps.filterBlockedDomains(WebOps.parseUrls(docs, col("url")), blocked)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("domainCapSample: cap enforced per domain, ranks dense, repartition-stable") {
    val sp = spark; import sp.implicits._
    val docs = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) s"https://big.example.com/$i" else s"https://small.example.org/$i"))
      .toDF("doc_id", "url")
    val parsed = WebOps.parseUrls(docs, col("url"))
    val got = WebOps.domainCapSample(parsed, cap = 5, col("doc_id"))
      .select("domain", "doc_id", "rk").as[(String, Long, Long)].collect()
    val byDomain = got.groupBy(_._1)
    assert(byDomain.keySet == Set("example.com", "example.org"))
    byDomain.values.foreach { rows =>
      assert(rows.length == 5)
      assert(rows.map(_._3).sorted.toSeq == (1L to 5L)) // dense ranks
    }
    // determinism: same selection regardless of physical layout
    val again = WebOps.domainCapSample(parsed.repartition(7), cap = 5, col("doc_id"))
      .select("domain", "doc_id", "rk").as[(String, Long, Long)].collect()
    assert(got.toSet == again.toSet)
  }

  test("parseRobots: group semantics, comments, case, empty disallow") {
    val sp = spark; import sp.implicits._
    val robots = Seq(
      ("a.com",
        "# hi\nUser-agent: googlebot\nDisallow: /g-only\n\n" +
          "User-agent: *\nUser-agent: testbot\nDisallow: /admin\nDISALLOW: /tmp/\nDisallow:\n\n" +
          "User-agent: otherbot\nDisallow: /other-only"),
      ("b.com", "User-agent: *\nDisallow: /"),
      ("c.com", "User-agent: crawler\nDisallow: /x")) // no star group at all
      .toDF("host", "content")
    val rules = WebOps.parseRobots(robots, col("host"), col("content"))
      .as[(String, String)].collect().toSet
    assert(rules == Set(("a.com", "/admin"), ("a.com", "/tmp/"), ("b.com", "/")))
  }

  test("robotsSitemaps: group-independent, cased, comment-stripped, empty dropped") {
    val sp = spark; import sp.implicits._
    val robots = Seq(
      ("a.com", "User-agent: *\nSITEMAP: https://a.com/s1.xml\nDisallow: /x\n" +
        "Sitemap: https://a.com/s2.xml # late\nSitemap: # empty after comment"),
      ("b.com", "User-agent: *\nDisallow: /")) // no directive → no rows
      .toDF("host", "content")
    val got = WebOps.robotsSitemaps(robots, col("host"), col("content"))
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(
      ("a.com", 0, "https://a.com/s1.xml"),
      ("a.com", 1, "https://a.com/s2.xml")))
  }

  test("parseSitemaps: urlset vs index, order, entity unescape (amp last, no double-decode)") {
    val sp = spark; import sp.implicits._
    val sm = Seq(
      ("a.com", "<urlset><url><loc>https://a.com/&amp;x</loc></url>" +
        "<url><loc>https://a.com/esc?s=&amp;lt;tag&amp;gt;</loc></url></urlset>"),
      ("b.com", "<sitemapindex><sitemap><loc> https://b.com/s1.xml </loc></sitemap></sitemapindex>"),
      ("c.com", "<urlset></urlset>")) // no locs → no rows
      .toDF("host", "content")
    val got = WebOps.parseSitemaps(sm, col("host"), col("content"))
      .as[(String, String, Int, String)].collect().toSet
    assert(got == Set(
      ("a.com", "urlset", 0, "https://a.com/&x"),
      // &amp;lt; is the ESCAPED literal "&lt;" — must not double-decode to '<'
      ("a.com", "urlset", 1, "https://a.com/esc?s=&lt;tag&gt;"),
      ("b.com", "sitemapindex", 0, "https://b.com/s1.xml")))
  }

  test("robotsFilter: prefix boundaries, root block, unknown host kept") {
    val sp = spark; import sp.implicits._
    val rules = Seq(("a.com", "/admin"), ("a.com", "/tmp/"), ("b.com", "/"))
      .toDF("host", "path_prefix")
    val urls = Seq(
      (1L, "https://a.com/admin/panel"), // dropped
      (2L, "https://a.com/administrator"), // dropped too: plain prefix rule
      (3L, "https://a.com/tmp"),         // kept: '/tmp/' ≠ prefix of '/tmp'
      (4L, "https://a.com/ok"),          // kept
      (5L, "https://b.com/"),            // dropped: root
      (6L, "https://z.com/admin"))       // kept: no rules for host
      .toDF("doc_id", "url")
    val kept = WebOps.robotsFilter(WebOps.parseUrls(urls, col("url")), rules)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 6L))
  }

  test("resolveUrls: RFC 3986 reference resolution incl. dot segments") {
    val sp = spark; import sp.implicits._
    def res(url: String, href: String): String = {
      val df = WebOps.parseUrls(Seq((url, href)).toDF("url", "href"), col("url"))
      WebOps.resolveUrls(df, col("href")).select("resolved").as[String].head()
    }
    val base = "https://a.com/dir/sub/page.html?q=1"
    assert(res(base, "https://x.org/p") == "https://x.org/p")     // absolute
    assert(res(base, "mailto:x@y.z") == "mailto:x@y.z")           // non-http scheme
    assert(res(base, "//cdn.com/img") == "https://cdn.com/img")   // protocol-relative
    assert(res(base, "/root/x") == "https://a.com/root/x")        // root-relative
    assert(res(base, "?page=2") == "https://a.com/dir/sub/page.html?page=2")
    assert(res(base, "") == "https://a.com/dir/sub/page.html?q=1") // self
    assert(res(base, "#frag") == "https://a.com/dir/sub/page.html?q=1")
    assert(res(base, "other.html") == "https://a.com/dir/sub/other.html")
    assert(res(base, "./other.html") == "https://a.com/dir/sub/other.html")
    assert(res(base, "../up.html") == "https://a.com/dir/up.html")
    assert(res(base, "../../../../beyond") == "https://a.com/beyond") // above root clamps
    assert(res(base, "a/b/../c/./d?x=1#f") == "https://a.com/dir/sub/a/c/d?x=1")
    assert(res("https://a.com", "rel") == "https://a.com/rel")    // empty base path
    assert(res("not a url", "rel") == "")                          // unparseable base
    assert(res("not a url", "https://ok.com/x") == "https://ok.com/x")
  }

  test("parseRobotsRules: allow + disallow captured for star group, empties dropped") {
    val sp = spark; import sp.implicits._
    val robots = Seq(("a.com",
      "User-agent: googlebot\nDisallow: /g\n\n" +
        "User-agent: *\nDisallow: /x\nAllow: /x/ok # comment\nALLOW: /y\nDisallow:\nAllow:"))
      .toDF("host", "content")
    val got = WebOps.parseRobotsRules(robots, col("host"), col("content"))
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("a.com", "disallow", "/x"), ("a.com", "allow", "/x/ok"),
      ("a.com", "allow", "/y")), s"got $got")
  }

  test("robotsFilterFull: RFC 9309 wildcard, anchor, longest-match and tie semantics") {
    val sp = spark; import sp.implicits._
    def kept(rules: Seq[(String, String, String)], urls: Seq[(Long, String)]): Set[Long] = {
      val r = rules.toDF("host", "rule", "pattern")
      val u = WebOps.parseUrls(urls.toDF("doc_id", "url"), col("url"))
      WebOps.robotsFilterFull(u, r).select("doc_id").as[Long].collect().toSet
    }
    // spec examples: /fish* ; /*.php$ ; mid-pattern $ is literal
    val rules = Seq(
      ("a.com", "disallow", "/fish*"),
      ("a.com", "allow", "/fish/ok"),
      ("a.com", "disallow", "/*.php$"),
      ("a.com", "disallow", "/lit$eral"),
      ("a.com", "allow", "/tie"),
      ("a.com", "disallow", "/tie"),
      ("b.com", "disallow", "/"))
    val urls = Seq(
      (1L, "https://a.com/fish"),          // dropped: /fish* matches bare /fish
      (2L, "https://a.com/fishheads?x=1"), // dropped: wildcard spans path+query
      (3L, "https://a.com/fish/ok"),       // kept: longer allow wins
      (4L, "https://a.com/Fish"),          // kept: patterns are case-sensitive
      (5L, "https://a.com/p.php"),         // dropped: anchored suffix
      (6L, "https://a.com/p.phpx"),        // kept: $ anchors the end
      (7L, "https://a.com/lit$eral"),      // dropped: mid-pattern $ is literal
      (8L, "https://a.com/tie"),           // kept: equal-length tie -> allow
      (9L, "https://b.com"),               // dropped: empty path evaluates as "/"
      (10L, "https://c.com/x"))            // kept: no rules for host
    assert(kept(rules, urls) == Set(3L, 4L, 6L, 8L, 10L))
    // regex metacharacters in patterns stay literal
    assert(kept(Seq(("a.com", "disallow", "/a(b)+c")),
      Seq((1L, "https://a.com/a(b)+c"), (2L, "https://a.com/abbc"))) == Set(2L))
  }

  test("frontierSchedule: priority order per host, url tie-break, depth cap, stability") {
    val sp = spark; import sp.implicits._
    val frontier = Seq(
      ("https://a.com/low", "a.com", 1L),
      ("https://a.com/hi", "a.com", 9L),
      ("https://a.com/tie2", "a.com", 5L),
      ("https://a.com/tie1", "a.com", 5L),
      ("https://a.com/cut", "a.com", 0L), // 5th by priority -> dropped at cap 4
      ("https://b.com/only", "b.com", 2L))
      .toDF("url", "host", "priority")
    def run(df: org.apache.spark.sql.DataFrame) =
      WebOps.frontierSchedule(df, col("priority"), maxRounds = 4)
        .as[(String, String, Long)].collect().toSet
    val got = run(frontier)
    assert(got == Set(
      ("https://a.com/hi", "a.com", 0L),
      ("https://a.com/tie1", "a.com", 1L), // equal priority: url string order
      ("https://a.com/tie2", "a.com", 2L),
      ("https://a.com/low", "a.com", 3L),
      ("https://b.com/only", "b.com", 0L)), s"got $got")
    assert(run(frontier.repartition(7)) == got) // repartition-stable
    intercept[IllegalArgumentException] {
      WebOps.frontierSchedule(frontier, col("priority"), maxRounds = 0)
    }
  }
}
