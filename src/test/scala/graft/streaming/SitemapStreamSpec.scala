package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SitemapStreamSpec extends SparkSpec {
  import spark.implicits._
  import SitemapStream.{SitemapFetch, SitemapPage}

  private val robots = Seq(
    ("a.com", "User-agent: *\nDisallow:\nSitemap: https://a.com/sm.xml\n" +
      "Sitemap: https://a.com/news.xml\n"),
    ("b.org", "User-agent: *\nSitemap: https://b.org/idx.xml\n"))

  private def robotsDf = robots.toDF("host", "robots_txt")

  // the crawl-ordered fetch feed: indexes strictly before their children
  private val feed = Seq(
    SitemapFetch("a.com", "https://a.com/sm.xml",
      "<urlset><url><loc>https://a.com/p?b=2&amp;a=1</loc><lastmod>2024-01-01</lastmod></url>" +
        "<url><loc>/rel</loc></url><url><loc>https://evil.net/x</loc></url></urlset>", 1L),
    SitemapFetch("a.com", "https://a.com/news.xml",
      "<urlset><url><loc>https://a.com/rel</loc><lastmod>2024-06-06</lastmod></url></urlset>", 2L),
    // present in the fetch store but never declared: contributes nothing
    SitemapFetch("a.com", "https://a.com/rogue.xml",
      "<urlset><url><loc>https://a.com/rogue</loc></url></urlset>", 3L),
    SitemapFetch("b.org", "https://b.org/idx.xml",
      "<sitemapindex><sitemap><loc>https://b.org/c1.xml</loc></sitemap>" +
        "<sitemap><loc>https://b.org/c2.xml</loc></sitemap></sitemapindex>", 4L),
    SitemapFetch("b.org", "https://b.org/c1.xml",
      "<urlset><url><loc>https://b.org/deep</loc></url></urlset>", 5L),
    // a child that is itself an index: the depth bound registers nothing
    SitemapFetch("b.org", "https://b.org/c2.xml",
      "<sitemapindex><sitemap><loc>https://b.org/c3.xml</loc></sitemap></sitemapindex>", 6L),
    SitemapFetch("b.org", "https://b.org/c3.xml",
      "<urlset><url><loc>https://b.org/never</loc></url></urlset>", 7L))

  test("sitemapIngestStream: distinct pages + max lastmod == batch sitemapPageUrls on crawl-ordered feeds (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    val want = graft.pipeline.Sitemaps.sitemapPageUrls(robotsDf,
        feed.map(f => (f.host, f.sitemap_url, f.body)).toDF("host", "sitemap_url", "body"))(_.collect())
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(want == Set(
      ("a.com", "https://a.com/p?a=1&b=2", Some("2024-01-01")),
      ("a.com", "https://a.com/rel", Some("2024-06-06")),
      ("b.org", "https://b.org/deep", None)), s"batch fixture drifted: $want")

    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      Seq(Seq(7), Seq.fill(7)(1), Seq(2, 3, 2)).zipWithIndex.foreach { case (split, si) =>
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SitemapFetch]
        val name = s"sitemap_stream_out_$si"
        val q = SitemapStream.sitemapIngestStream(in.toDS(), robotsDf)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          var rest = feed
          split.foreach { n =>
            val (chunk, tail) = rest.splitAt(n)
            rest = tail
            if (chunk.nonEmpty) { in.addData(chunk); q.processAllAvailable() }
          }
          val rows = spark.table(name).as[SitemapPage].collect()
          // per-listing emissions: /rel arrives once per listing sitemap
          assert(rows.length == 4, s"split $si: ${rows.toSeq}")
          // the downstream (host, url) max-lastmod fold equals batch
          val folded = rows.groupBy(r => (r.host, r.url)).map { case ((h, u), rs) =>
            (h, u, rs.flatMap(r => Option(r.lastmod)).sorted.lastOption)
          }.toSet
          assert(folded == want, s"split $si: stream diverged\n$folded\n$want")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("sitemapIngestStream changefreq/priority: per-listing canonical claims fold to the batch elections") {
    implicit val sqlCtx = spark.sqlContext
    // /p is re-listed with a divergent cadence (Weekly out-ranks
    // monthly) and a higher priority; /rel's junk token must
    // canonicalize to NULL in the stream exactly as in batch
    val feed2 = Seq(
      SitemapFetch("a.com", "https://a.com/sm.xml",
        "<urlset><url><loc>https://a.com/p</loc><changefreq>monthly</changefreq>" +
          "<priority>0.2</priority></url>" +
          "<url><loc>/rel</loc><changefreq>junk</changefreq></url></urlset>", 1L),
      SitemapFetch("a.com", "https://a.com/news.xml",
        "<urlset><url><loc>https://a.com/p</loc><changefreq>Weekly</changefreq>" +
          "<priority>0.7</priority></url></urlset>", 2L))
    val batch = graft.pipeline.Sitemaps.sitemapPageUrls(robotsDf,
        feed2.map(f => (f.host, f.sitemap_url, f.body)).toDF("host", "sitemap_url", "body"))(_.collect())
      .map(r => (r.getString(1), Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    assert(batch == Set(
      ("https://a.com/p", Some("weekly"), Some(700000L)),
      ("https://a.com/rel", None, None)), s"batch fixture drifted: $batch")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SitemapFetch]
    val q = SitemapStream.sitemapIngestStream(in.toDS(), robotsDf)
      .writeStream.format("memory").queryName("sitemap_cf_out").outputMode("append").start()
    try {
      in.addData(feed2); q.processAllAvailable()
      val rows = spark.table("sitemap_cf_out").as[SitemapPage].collect()
      val rank = graft.pipeline.Sitemaps.ChangefreqTokens.zipWithIndex.toMap
      val folded = rows.groupBy(_.url).map { case (u, rs) =>
        val cfs = rs.flatMap(r => Option(r.changefreq))
        (u, if (cfs.isEmpty) None else Some(cfs.minBy(rank)),
          rs.flatMap(_.priority_ppm).reduceOption(_ max _))
      }.toSet
      assert(folded == batch, s"stream elections diverged:\n$folded\n$batch")
    } finally q.stop()
  }

  test("sitemapIngestStream: a child arriving BEFORE its index contributes nothing (the documented ordering contract)") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SitemapFetch]
    val q = SitemapStream.sitemapIngestStream(in.toDS(), robotsDf)
      .writeStream.format("memory").queryName("sitemap_ooo_out").outputMode("append").start()
    try {
      // the child body lands in an EARLIER batch than the index naming it
      in.addData(Seq(SitemapFetch("b.org", "https://b.org/c1.xml",
        "<urlset><url><loc>https://b.org/deep</loc></url></urlset>", 1L)))
      q.processAllAvailable()
      in.addData(Seq(SitemapFetch("b.org", "https://b.org/idx.xml",
        "<sitemapindex><sitemap><loc>https://b.org/c1.xml</loc></sitemap></sitemapindex>", 2L)))
      q.processAllAvailable()
      val got = spark.table("sitemap_ooo_out").as[SitemapPage].collect()
      assert(got.isEmpty,
        s"child-before-index must contribute nothing (a real fetcher cannot produce it): ${got.toSeq}")
    } finally q.stop()
  }
}
