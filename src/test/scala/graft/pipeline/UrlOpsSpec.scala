package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(u: String): Option[String] =
    Option(Seq(Tuple1(u)).toDF("url")
      .select(UrlOps.canonicalUrl(col("url"))).head.getString(0))
  private def dom(u: String): Option[String] =
    Option(Seq(Tuple1(u)).toDF("url")
      .select(UrlOps.registrableDomain(col("url"))).head.getString(0))

  test("canonicalUrl: every normalization rule, one case each") {
    // case-variant scheme+host, default port, tracking params, unsorted
    // params, trailing slash, fragment — all collapse to one form
    assert(canon("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag")
      == Some("http://www.example.com/a/b?a=1&b=2"))
    assert(canon("https://example.com:443/x") == Some("https://example.com/x"))
    // NON-default port survives
    assert(canon("https://example.com:8443/x") == Some("https://example.com:8443/x"))
    // empty and all-slash paths root; all-tracking query drops entirely
    assert(canon("https://example.com") == Some("https://example.com/"))
    assert(canon("https://example.com///?fbclid=abc") == Some("https://example.com/"))
    // param ORDER is transport noise: permutations canonicalize equal
    assert(canon("https://e.com/p?z=1&a=2") == canon("https://e.com/p?a=2&z=1"))
    // a param merely PREFIXED by a tracking name is not tracking
    assert(canon("https://e.com/p?utm_sourcex=1") == Some("https://e.com/p?utm_sourcex=1"))
    // bare `ref` is NOT stripped by default (load-bearing on code
    // forges / docs sites) — the per-corpus override seam handles it
    assert(canon("https://e.com/p?ref=spam") == Some("https://e.com/p?ref=spam"))
    assert(Option(Seq(Tuple1("https://e.com/p?ref=spam&a=1")).toDF("url")
      .select(UrlOps.canonicalUrl(col("url"), UrlOps.trackingParams :+ "ref"))
      .head.getString(0)) == Some("https://e.com/p?a=1"))
    // userinfo (credentials) strips out of the canonical form — a
    // transport artifact and a secrets leak, and the domain never sees it
    assert(canon("https://user:pw@example.com/x") == Some("https://example.com/x"))
    // non-http(s) provenance -> NULL, never a junk key
    assert(canon("mailto:x@y.com").isEmpty)
    assert(canon("not a url at all").isEmpty)
    assert(canon("ftp://example.com/f").isEmpty)
  }

  test("registrableDomain: one case per PSL rule class") {
    // plain 2-level ccTLD rule + port strip + userinfo strip
    assert(dom("https://news.bbc.CO.UK:443/x") == Some("bbc.co.uk"))
    assert(dom("https://alice@sub.bbc.co.uk/x") == Some("bbc.co.uk"))
    // default `*` rule: bare TLD suffix, deep subdomains collapse
    assert(dom("http://a.b.c.example.com/") == Some("example.com"))
    assert(dom("https://example.com/x") == Some("example.com"))
    // 1-label host is its own (lenient) key
    assert(dom("http://localhost:8080/x") == Some("localhost"))
    // PRIVATE-section suffix: every user site its own domain — the rule
    // class the old two-level heuristic could not express
    assert(dom("https://alice.github.io/proj/") == Some("alice.github.io"))
    assert(dom("https://www.alice.github.io/") == Some("alice.github.io"))
    assert(dom("http://my.blog.blogspot.com.br/p") == Some("blog.blogspot.com.br"))
    // a ccTLD second-level the 16-entry table missed
    assert(dom("https://www.shop.com.tr/") == Some("shop.com.tr"))
    // wildcard ccTLD rule *.bd: any second level is a public suffix
    assert(dom("http://shop.example.bd/") == Some("shop.example.bd"))
    // wildcard geographic registry *.kawasaki.jp
    assert(dom("https://www.x.example.kawasaki.jp/") == Some("x.example.kawasaki.jp"))
    // exception rules beat the wildcard: the named domain is registrable
    assert(dom("https://www.city.kawasaki.jp/ward") == Some("city.kawasaki.jp"))
    assert(dom("https://city.kawasaki.jp/") == Some("city.kawasaki.jp"))
    assert(dom("http://www.ck/") == Some("www.ck"))
    assert(dom("http://shop.www.ck/") == Some("www.ck"))
    // host that IS a public suffix stays itself (lenient apex)
    assert(dom("https://co.uk/") == Some("co.uk"))
    assert(dom("https://github.io/") == Some("github.io"))
    assert(dom("mailto:x@y.com").isEmpty)
  }

  test("urlDedup: byte-variant URLs of one page collapse; NULL provenance keeps itself") {
    val docs = Seq(
      (1L, "https://E.com/page?b=2&a=1"),
      (2L, "HTTPS://e.COM/page/?a=1&b=2#top"),   // same page, different bytes
      (3L, "https://e.com/page?a=1&b=2&utm_source=tw"), // same after tracking strip
      (4L, "https://e.com/other"),
      (5L, "garbage"),
      (6L, "junk too")).toDF("doc_id", "url")
    val got = UrlOps.urlDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((1L, false)),
      4L -> ((4L, true)),
      5L -> ((5L, true)), 6L -> ((6L, true))), // NULL keys never collapse rows
      s"got $got")
  }

  test("domainCap: at most cap docs survive per domain, selected by the content-blind hash; NULL domains uncapped") {
    val docs = (1L to 30L).map { i =>
      val u = if (i % 10 == 0) "bogus" else s"https://site${i % 2}.example.com/p/$i"
      (i, u)
    }.toDF("doc_id", "url")
    val got = UrlOps.domainCap(docs, cap = 5L).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getBoolean(3)))
    // exactly 5 kept per real domain (example.com is one registrable
    // domain for both sites... registrable collapses site0/site1!)
    val byDom = got.filter(_._2.isDefined).groupBy(_._2.get)
    byDom.foreach { case (d, rows) =>
      assert(rows.count(_._4) == math.min(5, rows.size), s"domain $d kept wrong count")
      // the kept subset is the 5 smallest (hash, id) — deterministic
      val keptIds = rows.filter(_._4).map(_._1).toSet
      val wantIds = rows.sortBy(r => (((r._1 % 1000000).abs * 2654435761L + 40503L) % 1000000, r._1))
        .take(5).map(_._1).toSet
      assert(keptIds == wantIds, s"domain $d: selection must be the deterministic draw")
    }
    // NULL-domain rows all kept at rank 0
    assert(got.filter(_._2.isEmpty).forall(r => r._3 == 0L && r._4))
  }

  test("domainCapSurvivors == domainCap's kept set, and the plan prunes via WindowGroupLimit") {
    val docs = (1L to 40L).map { i =>
      val u = if (i % 10 == 0) "bogus" else s"https://site${i % 3}.example.com/p/$i"
      (i, u)
    }.toDF("doc_id", "url")
    val viaFlags = UrlOps.domainCap(docs, cap = 5L).where(col("kept"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survivors = UrlOps.domainCapSurvivors(docs, cap = 5L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == viaFlags, "survivors form must select exactly the kept set")
    // the scale property: rank<=cap over a plain row_number rewrites to
    // WindowGroupLimit (map-side per-domain pruning before the shuffle)
    val plan = UrlOps.domainCapSurvivors(docs, cap = 5L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"the survivors form must prune pre-shuffle:\n${plan.take(2000)}")
  }

  test("reserved-column collisions fail fast (the loud-guard convention)") {
    val bad = Seq((1L, "https://a.com/x", "boom")).toDF("doc_id", "url", "domain")
    val e = intercept[IllegalArgumentException] { UrlOps.domainCap(bad, 5L) }
    assert(e.getMessage.contains("collide"))
    val bad2 = Seq((1L, "https://a.com/x", true)).toDF("doc_id", "url", "is_keeper")
    val e2 = intercept[IllegalArgumentException] { UrlOps.urlDedup(bad2) }
    assert(e2.getMessage.contains("collide"))
  }

  test("canonicalUrl + registrableDomain are stateless-streaming legal (scan-side, no shuffle)") {
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "url")
      .select(col("doc_id"),
        UrlOps.canonicalUrl(col("url")).as("cu"),
        UrlOps.registrableDomain(col("url")).as("dom"))
      .writeStream.format("memory").queryName("url_stream").outputMode("append").start()
    try {
      in.addData((1L, "HTTPS://E.com:443/p/?b=2&a=1&utm_source=x#f"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("url_stream").collect().map(r => (r.getString(1), r.getString(2)))
    assert(got.toSeq == Seq(("https://e.com/p?a=1&b=2", "e.com")))
  }

  test("registrableDomain kernel == the pure-Column PSL reference (differential)") {
    // the kernel expression exists because the Column form's generated
    // code overflows Janino's 64 KB method limit (codegen falls back to
    // interpreted per-row evaluation, re-attempting the ~1 s compile per
    // execution) — so the Column form is demoted to the REFERENCE this
    // test replays: adversarial shapes across every rule class plus
    // degenerate hosts, then a generated corpus sweep
    val adversarial = Seq(
      "https://news.bbc.CO.UK:443/x", "http://a.b.c.example.com/",
      "http://localhost:8080/x", "https://alice.github.io/proj/",
      "https://www.alice.github.io/", "http://my.blog.blogspot.com.br/p",
      "https://www.shop.com.tr/", "http://shop.example.bd/",
      "https://www.x.example.kawasaki.jp/", "https://www.city.kawasaki.jp/ward",
      "http://www.ck/", "http://shop.www.ck/", "https://co.uk/",
      "https://github.io/", "mailto:x@y.com", "not a url", "",
      "https://user:pw@sub.example.co.nz/", "HTTPS://UPPER.GITHUB.IO/",
      "https://x.compute.amazonaws.com/", "https://a.b.x.compute.amazonaws.com/",
      "https://s3.amazonaws.com/bucket", "https://b.s3.amazonaws.com/",
      "http://1.2.3.4:80/", "https://trailing.dot./", "https://..double/",
      "https://:8080/", "http://host:/nodigits", "http://host:12ab/x",
      "ftp://example.com/", "https://İstanbul.example.com.tr/")
    val urls = adversarial.map(Tuple1(_)).toDF("url")
    val both = urls.select(
      UrlOps.registrableDomain(col("url")).as("kernel"),
      UrlOps.registrableDomainHof(col("url")).as("reference"),
      col("url"))
    val diff = both.where(!(col("kernel") <=> col("reference"))).collect()
    assert(diff.isEmpty, s"kernel != reference on: ${diff.mkString("; ")}")

    // generated sweep: every suffix in the snapshot, with 0/1/2 extra
    // labels, mixed case and ports
    val rules = (PslSnapshot.exactByLen.values.flatten ++
      PslSnapshot.wildcardByLen.values.flatten ++
      PslSnapshot.exceptionsByLen.values.flatten).toSeq
    val gen = rules.zipWithIndex.flatMap { case (r, i) =>
      Seq(s"https://$r/", s"http://site$i.$r:80/page",
        s"https://Deep.Sub$i.$r/x?q=1")
    }.map(Tuple1(_)).toDF("url")
    val gdiff = gen.select(
        UrlOps.registrableDomain(col("url")).as("kernel"),
        UrlOps.registrableDomainHof(col("url")).as("reference"), col("url"))
      .where(!(col("kernel") <=> col("reference"))).collect()
    assert(gdiff.isEmpty, s"kernel != reference on: ${gdiff.take(5).mkString("; ")}")
  }

  test("canonicalUrl kernel == the pure-Column reference (differential)") {
    val adversarial = Seq(
      "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag",
      "https://example.com:443/x", "https://example.com:8443/x",
      "https://example.com", "https://example.com///?fbclid=abc",
      "https://e.com/p?z=1&a=2", "https://e.com/p?a=2&z=1",
      "https://e.com/p?utm_sourcex=1", "https://e.com/p?ref=spam",
      "https://user:pw@example.com/x", "mailto:x@y.com", "not a url",
      "ftp://example.com/f", "", "https://h/?&&a=1&&",
      "https://h/p?utm_id", "https://h/p?utm_id=",
      "http://h:80", "https://h:80/x", "http://h:443/x",
      "https://a@b@c.com/x", "https://e.com/p?b=é&a=😀",
      "HTTPS://E.com:443/p/?b=2&a=1&utm_source=x#f")
    val urls = adversarial.map(Tuple1(_)).toDF("url")
    val diff = urls.select(
        UrlOps.canonicalUrl(col("url")).as("kernel"),
        UrlOps.canonicalUrlHof(col("url")).as("reference"), col("url"))
      .where(!(col("kernel") <=> col("reference"))).collect()
    assert(diff.isEmpty, s"kernel != reference on: ${diff.mkString("; ")}")
    // the override seam behaves identically through the kernel
    val withRef = UrlOps.trackingParams :+ "ref"
    val d2 = urls.select(
        UrlOps.canonicalUrl(col("url"), withRef).as("kernel"),
        UrlOps.canonicalUrlHof(col("url"), withRef).as("reference"))
      .where(!(col("kernel") <=> col("reference"))).collect()
    assert(d2.isEmpty, s"kernel != reference with override: ${d2.mkString("; ")}")
  }

  test("URL kernels == Column references on fuzzed inputs (random strings and URL-ish mutants)") {
    val rnd = new scala.util.Random(1234)
    val atoms = Seq("https://", "http://", "HtTpS://", "ftp://", "", "www.", "a.", ".",
      "example", "co.uk", "github.io", "com", "bd", "kawasaki.jp", ":", ":80", ":443",
      ":8080", "/", "//", "/p", "?", "?a=1", "&", "utm_source=x", "b=2", "#f", "@",
      "user:pw@", " ", "\t", "é", "😀", "..", "%2F", "=")
    val urls = (1 to 400).map { _ =>
      (0 until (1 + rnd.nextInt(8))).map(_ => atoms(rnd.nextInt(atoms.size))).mkString
    } ++ (1 to 100).map { _ => // pure noise
      new String(Array.fill(rnd.nextInt(30))((32 + rnd.nextInt(95)).toChar))
    }
    val df = urls.map(Tuple1(_)).toDF("url")
    val d1 = df.select(
        UrlOps.registrableDomain(col("url")).as("k"),
        UrlOps.registrableDomainHof(col("url")).as("r"), col("url"))
      .where(!(col("k") <=> col("r"))).collect()
    assert(d1.isEmpty, s"registrableDomain kernel diverged on: ${d1.take(5).mkString("; ")}")
    val d2 = df.select(
        UrlOps.canonicalUrl(col("url")).as("k"),
        UrlOps.canonicalUrlHof(col("url")).as("r"), col("url"))
      .where(!(col("k") <=> col("r"))).collect()
    assert(d2.isEmpty, s"canonicalUrl kernel diverged on: ${d2.take(5).mkString("; ")}")
  }

  test("registrableDomain keeps whole-stage codegen compilable (fallback disabled)") {
    // the regression this expression fixes: with codegen fallback OFF, a
    // >64 KB generated method makes execution THROW instead of silently
    // re-compiling + interpreting per run — so green here proves the
    // URL family's stages compile
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val docs = Seq((1L, "https://a.example.co.uk/x", "t"),
        (2L, "https://b.github.io/y", "u")).toDF("doc_id", "url", "text")
      assert(UrlOps.domainStats(docs).collect().length == 2)
      assert(UrlOps.domainCap(docs.select("doc_id", "url"), cap = 1L)
        .collect().length == 2)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("domainCapByRank: centrality scales the budget; unranked defaults; clamps; NULL kept") {
    // 5 docs on hot.com (rank 3e6 → cap 30, clamped to maxCap 4),
    // 5 on cold.com (rank 100000 → cap 1), 3 on unranked.org (default
    // 150000 → cap 1), 1 unparseable (kept, rank 0)
    val docs = (1L to 5L).map(i => (i, s"https://hot.com/$i")) ++
      (11L to 15L).map(i => (i, s"https://cold.com/$i")) ++
      (21L to 23L).map(i => (i, s"https://unranked.org/$i")) :+ (30L, "oops")
    val ranks = Seq(("hot.com", 3000000L), ("cold.com", 100000L)).toDF("domain", "rank_ppm")
    val got = UrlOps.domainCapByRank(docs.toDF("doc_id", "url"), ranks,
        baseCap = 2L, maxCap = 4L)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getBoolean(4)))
    val byDomain = got.groupBy(_._2)
    // hot: 2 * 3e6 DIV 1e6 = 6, clamped to 4 → 4 of 5 kept
    assert(byDomain(Some("hot.com")).forall(_._3 == 4L))
    assert(byDomain(Some("hot.com")).count(_._4) == 4)
    // cold: 2 * 100000 DIV 1e6 = 0, clamped up to 1 → 1 of 5 kept
    assert(byDomain(Some("cold.com")).forall(_._3 == 1L))
    assert(byDomain(Some("cold.com")).count(_._4) == 1)
    // unranked: default 150000 → 2 * 150000 DIV 1e6 = 0 → clamp 1
    assert(byDomain(Some("unranked.org")).forall(_._3 == 1L))
    assert(byDomain(Some("unranked.org")).count(_._4) == 1)
    // unparseable provenance: kept, never capped
    assert(byDomain(None).forall(_._4))
    // the kept subset must agree with domainCap's draw on an equal cap:
    // same hash order, so cold.com's single keeper matches cap=1's keeper
    val flat = UrlOps.domainCap(
        (11L to 15L).map(i => (i, s"https://cold.com/$i")).toDF("doc_id", "url"), cap = 1L)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).filter(_._2).map(_._1).toSet
    val ranked = got.filter(r => r._2 == Some("cold.com") && r._4).map(_._1).toSet
    assert(ranked == flat)
  }

  test("domainCapByRank: duplicate domain rows in the rank table do not fan documents out") {
    // two rank rows for the same domain (a merged rank feed) must not
    // duplicate receipts or inflate row_number ranks — the join side
    // pre-aggregates to one row per domain, max wins
    val docs = (1L to 4L).map(i => (i, s"https://dup.com/$i")).toDF("doc_id", "url")
    val ranks = Seq(("dup.com", 1000000L), ("dup.com", 2000000L)).toDF("domain", "rank_ppm")
    val got = UrlOps.domainCapByRank(docs, ranks, baseCap = 2L, maxCap = 10L).collect()
    assert(got.length == 4, s"fan-out through a duplicate rank row: ${got.length} receipts")
    // max(rank_ppm) = 2e6 → cap 4: all kept; ranks are a permutation of 1..4
    assert(got.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.forall(_.getBoolean(4)))
  }

  test("domainOptOut: registrable-domain match covers subdomains, isolates private-suffix sites") {
    val docs = Seq(
      (1L, "https://example.com/a"),
      (2L, "https://www.example.com/b"),       // subdomain: covered
      (3L, "https://deep.sub.example.com/c"),  // deeper subdomain: covered
      (4L, "https://example.org/d"),           // different domain: not covered
      (5L, "https://alice.github.io/e"),       // opted-out user site
      (6L, "https://bob.github.io/f"),         // DIFFERENT user site: not covered
      (7L, "not a url")                        // no provenance: never matched
    ).toDF("doc_id", "url")
    val registry = Seq("example.com", "alice.github.io", "never-seen.org").toDF("domain")
    val got = UrlOps.domainOptOut(docs, registry)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "example.com"), (2L, "example.com"), (3L, "example.com"),
      (5L, "alice.github.io")))
    val e = intercept[IllegalArgumentException](
      UrlOps.domainOptOut(docs, Seq(Tuple1("x")).toDF("notdomain")))
    assert(e.getMessage.contains("domain"))
  }

  test("hostOf: origin key — default ports strip per scheme, NON-default ports stay, schemes pool") {
    val got = Seq(
      (1L, "https://H.com:443/x"),   // default https port strips
      (2L, "http://h.com:80/x"),     // default http port strips
      (3L, "https://h.com:8080/x"),  // NON-default port is its own origin (RFC 9309)
      (4L, "http://h.com:443/x"),    // 443 is NOT http's default: kept
      (5L, "HTTP://h.com/x"),        // schemes pool (documented): same key as https
      (6L, "mailto:x@y.com"))        // non-http(s): NULL
      .toDF("doc_id", "url")
      .select(col("doc_id"), UrlOps.hostOf(col("url")).as("h"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got == Map(
      1L -> Some("h.com"), 2L -> Some("h.com"), 3L -> Some("h.com:8080"),
      4L -> Some("h.com:443"), 5L -> Some("h.com"), 6L -> None), got.toString)
  }

  test("resolveAliases: chains resolve to terminals in log rounds; cycles and over-bound chains go NULL") {
    // chain a->b->c->T, 2-cycle x<->y, chain INTO the cycle z->x,
    // self-edge s->s (dropped), multi-target m->{t2,t1} (min wins)
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "T"),
      ("x", "y"), ("y", "x"), ("z", "x"),
      ("s", "s"),
      ("m", "t2"), ("m", "t1")).toDF("src", "dst")
    val want = Map(
      "a" -> Some("T"), "b" -> Some("T"), "c" -> Some("T"),
      "x" -> None, "y" -> None, "z" -> None,
      "m" -> Some("t1"))
    // both dispatch arms must produce identical labels (the
    // Dedup.connectedComponents equivalence discipline)
    for (limit <- Seq(500000, 0)) {
      val got = UrlOps.resolveAliases(edges, driverEdgeLimit = limit).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(got == want, s"driverEdgeLimit=$limit: got $got")
    }
  }

  test("resolveAliases: the 2^maxRounds hop bound is exact (64 resolves, 65 does not)") {
    // numeric string chain i -> i+1, terminal at 65: node 1 sits 64 hops
    // out (resolves); with a 66-terminal chain node 1 sits 65 hops out
    def chain(last: Int) = (1 until last).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("src", "dst")
    for (limit <- Seq(500000, 0)) {
      val at64 = UrlOps.resolveAliases(chain(65), driverEdgeLimit = limit)
        .where(col("src") === "n001")
        .collect().map(r => Option(r.getString(1))).head
      assert(at64 == Some("n065"), s"limit=$limit: 64-hop chain must resolve, got $at64")
      val at65 = UrlOps.resolveAliases(chain(66), driverEdgeLimit = limit)
        .where(col("src") === "n001")
        .collect().map(r => Option(r.getString(1))).head
      assert(at65 == None, s"limit=$limit: 65-hop chain must overflow the bound to NULL, got $at65")
    }
  }

  test("urlDedupAliased: aliased keys merge, NULL terminals and unlisted keys keep their own") {
    val docs = Seq(
      (1L, "https://a.com/page?b=2&a=1"), // aliased -> https://c.com/x
      (2L, "https://c.com/x"),            // the terminal itself
      (3L, "https://b.com/only"),         // unlisted key
      (4L, "https://loop.com/p"),         // alias exists but terminal NULL (cycle)
      (5L, "notaurl")).toDF("doc_id", "url") // NULL canon: keeps itself
    val aliases = Seq(
      ("https://a.com/page?a=1&b=2", Some("https://c.com/x")),
      ("https://loop.com/p", None)).toDF("src", "terminal")
    val got = UrlOps.urlDedupAliased(docs, aliases).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      1L -> ((Some("https://c.com/x"), 1L, true)),
      2L -> ((Some("https://c.com/x"), 1L, false)),
      3L -> ((Some("https://b.com/only"), 3L, true)),
      4L -> ((Some("https://loop.com/p"), 4L, true)),
      5L -> ((None, 5L, true))), s"got $got")

    // a malformed alias map with DUPLICATE src keys must not fan the
    // join out (one document dedups as two rows): the boundary collapses
    // to one deterministic (min) terminal per src
    val dupAliases = Seq(
      ("https://a.com/page?a=1&b=2", Some("https://z.com/x")),
      ("https://a.com/page?a=1&b=2", Some("https://c.com/x"))).toDF("src", "terminal")
    val dup = UrlOps.urlDedupAliased(docs, dupAliases).collect()
    assert(dup.length == docs.count(), s"duplicate srcs fanned out: ${dup.length} rows")
    val row1 = dup.find(_.getLong(0) == 1L).get
    assert(row1.getString(1) == "https://c.com/x", s"min terminal must win, got ${row1.getString(1)}")
  }

  test("urlTemplate/crawlTraps/templateCapSurvivors: trap pooling, host shares, cap, null-host visibility") {
    val cands = Seq(
      "https://a.com/cal/2024/01/01", "https://a.com/cal/2024/01/02",
      "https://a.com/cal/2024/02/11", "https://a.com/cal/2025/03/09",
      "https://a.com/about",
      "https://a.com/item?id=7&page=2", "https://a.com/item?id=9&page=5",
      "notaurl").toDF("url")
    val traps = UrlOps.crawlTraps(cands).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(traps == Map(
      ("a.com", "/cal/N/N/N") -> ((4L, 571428L)),
      ("a.com", "/about") -> ((1L, 142857L)),
      ("a.com", "/item?id=&page=") -> ((2L, 285714L))), s"got $traps")
    val kept = UrlOps.templateCapSurvivors(cands, cap = 2).collect()
      .map(r => (Option(r.getString(0)), r.getString(2), r.getLong(3)))
    assert(kept.count(_._1 == Some("a.com")) == 5, s"got ${kept.toSeq}") // 2 cal + 1 about + 2 item
    assert(kept.exists(k => k._1.isEmpty && k._2 == "notaurl" && k._3 == 1L),
      "null-host candidates must pass uncapped and visible")
    val cal = kept.filter(_._2.startsWith("https://a.com/cal")).map(_._2).sorted.toSeq
    assert(cal == Seq("https://a.com/cal/2024/01/01", "https://a.com/cal/2024/01/02"),
      s"cap must keep the URL-order first k: $cal")
    // the r21 unique-url fast path (count, not countDistinct) must be
    // value-identical on distinct cands, and must NOT be used when the
    // contract is broken: with a duplicated url row the default dedups
    // while the fast path counts rows — the contract is the caller's
    val fast = UrlOps.crawlTraps(cands, urlsUnique = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(fast == traps, s"urlsUnique fast path diverged: $fast vs $traps")
    val dupCands = cands.unionByName(Seq("https://a.com/about").toDF("url"))
    val dupDefault = UrlOps.crawlTraps(dupCands).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(dupDefault("/about") == 1L,
      s"default path must still dedup duplicate urls: $dupDefault")
  }

  test("urlTemplate: value-strip is query-only — path '=' (base64/matrix segments) is content") {
    val got = Seq(
      "https://a.com/doc/QWxhZGRpbg==",        // base64 path id: '=' kept
      "https://a.com/doc/Zm9vYmFy/x",          // distinct base64 id stays distinct
      "https://a.com/m;k=v/p?id=7",            // matrix param in path kept; query value dropped
      "https://a.com/s?a=x&b=y=z"              // query values (incl. a nested '=') dropped
    ).toDF("url").select(UrlOps.urlTemplate(col("url"))).collect().map(_.getString(0))
    // note url 2's '9' still digit-collapses (global digit rule): Zm9v -> ZmNv
    assert(got.toSeq == Seq(
      "/doc/QWxhZGRpbg==", "/doc/ZmNvYmFy/x",
      "/m;k=v/p?id=", "/s?a=&b="), s"got ${got.toSeq}")
  }

  test("crawledUrlBloom + freshViaBloom: output == the plain anti-join; the sizing clamp guard fires") {
    val crawled = (1 to 200).map(i => s"https://c.com/p/$i").toDF("url")
    val cands = ((150 to 260).map(i => s"https://c.com/p/$i") :+ "https://fresh.org/x")
      .toDF("url")
    val bloom = UrlOps.crawledUrlBloom(crawled, expectedUrls = 200)
    val got = UrlOps.freshViaBloom(cands, crawled, bloom)
      .collect().map(_.getString(0)).toSet
    val want = cands.join(crawled, Seq("url"), "left_anti")
      .collect().map(_.getString(0)).toSet
    assert(got == want, s"bloom path diverged from the exact anti-join:\n$got\n$want")
    assert(want.contains("https://fresh.org/x") && !want.contains("https://c.com/p/150"),
      "fixture must exercise both fresh and crawled arms")
    // the BloomFilterAggregate silent-clamp guard (the evalShingleBloom
    // discipline): oversizing must refuse loudly, not degrade
    val e = intercept[IllegalArgumentException](
      UrlOps.crawledUrlBloom(crawled, expectedUrls = 1000000000L))
    assert(e.getMessage.contains("maxNumBits"), e.getMessage)
  }

  test("crawledUrlBloomShards + freshViaBloomSharded: shard-count invariance, empty shards, sizing guard") {
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false") // the probe expression must codegen
    try {
      val crawled = (1 to 200).map(i => s"https://c.com/p/$i").toDF("url")
      val cands = ((150 to 260).map(i => s"https://c.com/p/$i") :+ "https://fresh.org/x")
        .toDF("url")
      val want = cands.join(crawled, Seq("url"), "left_anti")
        .collect().map(_.getString(0)).toSet
      // any K gives the exact anti-join's output — the per-shard
      // one-sided-error argument; K > distinct urls forces EMPTY shards
      for (k <- Seq(1, 4, 13, 512)) {
        val shards = UrlOps.crawledUrlBloomShards(crawled,
          expectedUrls = 200, numShards = k)
        assert(shards.length == k && shards.forall(_.nonEmpty))
        val got = UrlOps.freshViaBloomSharded(cands, crawled, shards)
          .collect().map(_.getString(0)).toSet
        assert(got == want, s"K=$k diverged from the exact anti-join")
      }
      // K=1 == the single-filter form's decisions on the same sizing
      val one = UrlOps.crawledUrlBloomShards(crawled, expectedUrls = 200, numShards = 1)
      val mono = UrlOps.crawledUrlBloom(crawled, expectedUrls = 200)
      assert(one.head.sameElements(mono),
        "K=1 shard family must be byte-identical to the monolithic filter")
      // per-shard sizing guard: an under-sharded web-scale store refuses
      // loudly and names the fix
      val e = intercept[IllegalArgumentException](
        UrlOps.crawledUrlBloomShards(crawled, expectedUrls = 1000000000L, numShards = 2))
      assert(e.getMessage.contains("raise numShards"), e.getMessage)
      // ... and the SAME store shards fine at an adequate K
      val ok = UrlOps.crawledUrlBloomShards(crawled, expectedUrls = 1000000000L,
        numShards = 256)
      assert(ok.length == 256)
      // EXECUTOR-HEAP ceiling: the family's total bytes are resident in
      // every executor regardless of K, ≈ n·ln(1/fpp)/(8·ln²2). At 10⁹
      // keys / fpp 0.001 that is ~1.8 GB — inside the default 2 GiB
      // bound (the `ok` build above); at 10¹⁰ it is ~18 GB and MUST
      // refuse loudly however finely it is sharded
      val bitsPerKey = math.log(1 / 0.001) / (math.log(2) * math.log(2))
      assert(1000000000L * bitsPerKey / 8 <= UrlOps.MaxShardFamilyBytes &&
        10000000000L * bitsPerKey / 8 > UrlOps.MaxShardFamilyBytes,
        "the default bound must admit the 10^9 decade and refuse the 10^10 decade")
      val heap = intercept[IllegalArgumentException](
        UrlOps.crawledUrlBloomShards(crawled, expectedUrls = 10000000000L,
          numShards = 4096))
      assert(heap.getMessage.contains("maxTotalFilterBytes") &&
        heap.getMessage.contains("EVERY executor"), heap.getMessage)
      // the bound is configurable (a caller with executors sized for it
      // raises it knowingly): the same small family that builds under
      // the default refuses under a 1-byte bound
      val tiny = intercept[IllegalArgumentException](
        UrlOps.crawledUrlBloomShards(crawled, expectedUrls = 200, numShards = 4,
          maxTotalFilterBytes = 1L))
      assert(tiny.getMessage.contains("maxTotalFilterBytes=1"), tiny.getMessage)
    } finally {
      prior match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("freshViaStore: at-rest bucketed membership — anti-join equivalence with zero store-side exchange") {
    val crawled = (1 to 200).map(i => s"https://c.com/p/$i").toDF("url")
    val cands = ((150 to 260).map(i => s"https://c.com/p/$i") :+ "https://fresh.org/x")
      .toDF("url")
    val want = cands.join(crawled, Seq("url"), "left_anti")
      .collect().map(_.getString(0)).toSet
    // pre-clean catalog entry AND orphan warehouse dir (a killed prior
    // JVM skips the finally DROP; SaveMode.Overwrite then fails with
    // LOCATION_ALREADY_EXISTS — the ShingleStage idempotence discipline)
    spark.sql("DROP TABLE IF EXISTS crawled_store_spec")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "crawled_store_spec")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    graft.operators.Layout.writeBucketed(crawled.distinct(), "crawled_store_spec",
      bucketCol = "url", buckets = 8, sortCol = Some("url"))
    try {
      val store = spark.table("crawled_store_spec")
      val got = UrlOps.freshViaStore(cands, store)
      assert(got.collect().map(_.getString(0)).toSet == want,
        "store path diverged from the exact anti-join")
      // the scale shape: with broadcast off (at 10^9+ urls the store
      // could never broadcast), the ONLY exchange is the candidate
      // side — the store reads its buckets co-partitioned
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probed = UrlOps.freshViaStore(cands, spark.table("crawled_store_spec"))
        probed.collect()
        // count exchanges in the FINAL plan only — AdaptiveSparkPlan's
        // toString repeats the tree as "== Initial Plan =="
        val plan = probed.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
        assert(exchanges == 1,
          s"expected ONE exchange (candidates only; bucketed store co-located), " +
            s"got $exchanges:\n${plan.take(3000)}")
        assert(plan.contains("Bucketed: true"),
          s"store scan must read its buckets:\n${plan.take(3000)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val bad = intercept[IllegalArgumentException](
        UrlOps.freshViaStore(cands, store.withColumnRenamed("url", "u")))
      assert(bad.getMessage.contains("freshViaStore"), bad.getMessage)

      // the APPEND step closes the loop: a fetched epoch (two new urls,
      // one recrawl, one dup spelling) adds ONLY the new urls...
      UrlOps.crawledStoreAppend(
        Seq("https://c.com/p/500", "https://fresh.org/x", "https://fresh.org/x",
          "https://c.com/p/1").toDF("url"),
        "crawled_store_spec")(buckets = 8)
      val after = spark.table("crawled_store_spec")
      assert(after.count() == 202,
        s"append must add exactly the two novel urls, got ${after.count()}")
      // ...and the next epoch's probe sees them (fresh.org/x no longer
      // fresh) while staying on the bucketed no-store-exchange path
      val round2 = UrlOps.freshViaStore(cands, after)
      assert(round2.collect().map(_.getString(0)).toSet ==
        (want - "https://fresh.org/x"), "post-append probe must see the appended urls")
      // a mis-bucketed append refuses loudly — it would silently break
      // the co-partitioned probe
      val mis = intercept[Exception](
        UrlOps.crawledStoreAppend(Seq("https://c.com/p/900").toDF("url"),
          "crawled_store_spec")(buckets = 4))
      assert(mis.getMessage.toLowerCase.contains("bucket"), mis.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS crawled_store_spec")
  }

  test("crawledStoreAppend: the default bucket count appends to a staged store; the probe stays bucketed") {
    // staged the way the crawled store is: bucketed and sorted on url, at
    // the session's width
    val key = "spec_crawled_default"
    val table = "graft_staged_" + key
    val crawled = (1 to 200).map(i => s"https://c.com/p/$i").toDF("url")
    ShingleStage.stagedBucketed(spark, key, "url", sortCol = Some("url"))(crawled.distinct())
    try {
      UrlOps.crawledStoreAppend(Seq("https://c.com/p/500", "https://c.com/p/1").toDF("url"), table)()
      assert(spark.table(table).count() == 201)
      val cands = Seq("https://c.com/p/500", "https://c.com/p/900").toDF("url")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val probed = UrlOps.freshViaStore(cands, spark.table(table))
        assert(probed.collect().map(_.getString(0)).toSeq == Seq("https://c.com/p/900"))
        val plan = probed.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
          s"expected ONE exchange (candidates only):\n${plan.take(3000)}")
        assert(plan.contains("Bucketed: true"), s"store scan must read its buckets:\n${plan.take(3000)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("domainStats: shares sum to ~1e6 and the NULL row stays visible") {
    val docs = Seq(
      (1L, "https://a.com/x", "aaaa"),
      (2L, "https://a.com/y", "bbbbbb"),
      (3L, "https://b.com/z", "cc"),
      (4L, "oops", "dddddddd")).toDF("doc_id", "url", "text")
    val got = UrlOps.domainStats(docs).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val tot = 4 + 6 + 2 + 8
    assert(got == Set(
      (Some("a.com"), 2L, 10L, 10L * 1000000L / tot),
      (Some("b.com"), 1L, 2L, 2L * 1000000L / tot),
      (None, 1L, 8L, 8L * 1000000L / tot)), s"got $got")
  }
}
