package graft.pipeline

import graft.SparkSpec

class SitemapsSpec extends SparkSpec {
  import spark.implicits._
  import Sitemaps._

  test("parseSitemap: roots, entries, case/attribute tolerance, loc-less entries, malformed bodies") {
    val (idx, es) = parseSitemap(
      """<?xml version="1.0"?><SiteMapIndex xmlns="x"><sitemap><loc> https://a.com/s1.xml </loc>""" +
        "<lastmod>2024-01-01</lastmod></sitemap><sitemap><lastmod>2024</lastmod></sitemap>" +
        "<sitemap><loc>https://a.com/s2.xml</loc></sitemap></SiteMapIndex>")
    assert(idx, "mixed-case sitemapindex root must be recognized")
    assert(es == Seq(
      SitemapEntry("https://a.com/s1.xml", Some("2024-01-01"), None, None),
      SitemapEntry("https://a.com/s2.xml", None, None, None)), s"got $es")
    val (pg, ps) = parseSitemap(
      "<urlset><url><loc>/p1</loc><changefreq>Daily</changefreq><priority>0.8</priority></url>" +
        "<URL><LOC>/p2</LOC></URL></urlset>")
    assert(!pg && ps == Seq(
      SitemapEntry("/p1", None, Some("Daily"), Some("0.8")),
      SitemapEntry("/p2", None, None, None)), s"got $ps")
    assert(parseSitemap(null) == ((false, Nil)))
    assert(parseSitemap("not xml at all") == ((false, Nil)))
    assert(parseSitemap("<html><body>404 page</body></html>") == ((false, Nil)))
    // an unclosed trailing entry still yields its loc
    assert(parseSitemap("<urlset><url><loc>/x</loc>")._2 ==
      Seq(SitemapEntry("/x", None, None, None)))
  }

  test("changefreq/priority canonicalization: vocabulary, case, range, exact ppm") {
    assert(canonicalChangefreq(" Daily ") == Some("daily"))
    assert(canonicalChangefreq("NEVER") == Some("never"))
    assert(canonicalChangefreq("bogus").isEmpty)
    assert(canonicalChangefreq(null).isEmpty)
    assert(priorityPpm("0.8") == Some(800000L))
    assert(priorityPpm(" 0.5 ") == Some(500000L))
    assert(priorityPpm("1.0") == Some(1000000L))
    assert(priorityPpm("0") == Some(0L))
    assert(priorityPpm("1.5").isEmpty, "out of the protocol's 0.0-1.0 range")
    assert(priorityPpm("-0.1").isEmpty)
    assert(priorityPpm("high").isEmpty)
    assert(priorityPpm(null).isEmpty)
  }

  test("sitemapPageUrls: declared seeds only, one index hop, same-host rule, decode/resolve/canonicalize, elections") {
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow:\nSitemap: https://a.com/sm.xml\n" +
        "Sitemap: https://a.com/news.xml\n"),
      ("b.org", "User-agent: *\nSitemap: https://b.org/idx.xml\n")).toDF("host", "robots_txt")
    val bodies = Seq(
      // pages: entity-encoded query (decodes + param-sorts), relative loc
      // (resolves against the sitemap's own URL), cross-host loc (drops);
      // the query page claims monthly/0.2
      ("a.com", "https://a.com/sm.xml",
        "<urlset><url><loc>https://a.com/p?b=2&amp;a=1</loc><lastmod>2024-01-01</lastmod>" +
          "<changefreq>monthly</changefreq><priority>0.2</priority></url>" +
          "<url><loc>/rel</loc><changefreq>junk</changefreq></url>" +
          "<url><loc>https://evil.net/x</loc></url></urlset>"),
      // RE-lists both pages: /rel gains a lastmod; /p's Weekly out-ranks
      // monthly (min-rank election) and 0.7 beats 0.2 (max election)
      ("a.com", "https://a.com/news.xml",
        "<urlset><url><loc>https://a.com/rel</loc><lastmod>2024-06-06</lastmod></url>" +
          "<url><loc>https://a.com/p?b=2&amp;a=1</loc><changefreq>Weekly</changefreq>" +
          "<priority>0.7</priority></url></urlset>"),
      // present in the fetch store but never declared: must not surface
      ("a.com", "https://a.com/rogue.xml",
        "<urlset><url><loc>https://a.com/rogue</loc></url></urlset>"),
      // index -> urlset child (read) and index -> index child (the
      // depth bound drops its grandchildren)
      ("b.org", "https://b.org/idx.xml",
        "<sitemapindex><sitemap><loc>https://b.org/c1.xml</loc></sitemap>" +
          "<sitemap><loc>https://b.org/c2.xml</loc></sitemap></sitemapindex>"),
      ("b.org", "https://b.org/c1.xml",
        "<urlset><url><loc>https://b.org/deep</loc><changefreq>never</changefreq></url></urlset>"),
      ("b.org", "https://b.org/c2.xml",
        "<sitemapindex><sitemap><loc>https://b.org/c3.xml</loc></sitemap></sitemapindex>"),
      ("b.org", "https://b.org/c3.xml",
        "<urlset><url><loc>https://b.org/never</loc></url></urlset>")
    ).toDF("host", "sitemap_url", "body")
    val got = sitemapPageUrls(robots, bodies)(_.collect())
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)),
        Option(r.getString(3)), if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    assert(got == Set(
      ("a.com", "https://a.com/p?a=1&b=2", Some("2024-01-01"), Some("weekly"), Some(700000L)),
      ("a.com", "https://a.com/rel", Some("2024-06-06"), None, None),
      ("b.org", "https://b.org/deep", None, Some("never"), None)), s"got $got")
  }

  test("changefreqIntervalMs: the token map, never clamped to yearly, non-tokens NULL") {
    val df = Seq("always", "hourly", "daily", "weekly", "monthly", "yearly", "never", "junk")
      .toDF("cf").select(changefreqIntervalMs(org.apache.spark.sql.functions.col("cf")).as("ms"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(got == Seq(Some(0L), Some(3600000L), Some(86400000L), Some(604800000L),
      Some(2592000000L), Some(31536000000L), Some(31536000000L), None), s"got $got")
  }
}
