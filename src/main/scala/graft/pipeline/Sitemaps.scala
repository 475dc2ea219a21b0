package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap XML parsing — the step that turns the robots-harvested
  * `Sitemap:` declarations ([[Robots.sitemapUrls]]) into the PAGE URLs
  * they list: a real crawler's frontier is mostly sitemap-derived, and
  * seeding it with the index FILES instead of the pages they list (what
  * the pre-parse frontier did) leaves the dominant discovery channel
  * unread.
  *
  * Semantics follow the sitemaps.org protocol restricted to the
  * portable core:
  *
  *  - a body whose root element is `<urlset>` lists PAGES (`<url>`
  *    entries); `<sitemapindex>` lists CHILD SITEMAPS (`<sitemap>`
  *    entries); each entry carries one `<loc>` (required — entries
  *    without one are skipped) and optionally `<lastmod>` (returned
  *    verbatim-trimmed; W3C datetime strings compare lexicographically
  *    within and across its date/datetime forms, which is what the
  *    max-lastmod election below relies on), `<changefreq>` (one of
  *    the protocol's seven tokens, matched case-insensitively —
  *    anything else is NOT a cadence claim and canonicalizes to NULL,
  *    visible, never guessed) and `<priority>` (a 0.0–1.0 decimal,
  *    carried as exact ppm — out-of-range or unparseable values
  *    canonicalize to NULL);
  *  - element names match case-insensitively, attributes on the root
  *    and entry tags are tolerated (`<urlset xmlns=…>`), `<loc>` values
  *    are XML-entity-escaped per the protocol and are decoded
  *    downstream by the SAME [[graft.functions.HtmlUnescape]] pass the
  *    link extractor uses (one decode convention for every URL that
  *    enters the frontier); CDATA sections are out of scope
  *    (documented, like the markup extractor's regex caveat);
  *  - nesting is bounded at ONE index hop (seed files plus their
  *    children — the protocol forbids an index listing another index,
  *    so a deeper chain is out of spec and is DROPPED, never followed:
  *    unbounded recursion over adversary-controlled bodies is how a
  *    crawler gets trapped);
  *  - the SAME-HOST rule: a loc may only inform the host whose sitemap
  *    declared it (the protocol's location-scope rule restricted to
  *    host granularity — the key [[Robots]] scopes policies by);
  *    cross-host locs and child sitemaps are dropped;
  *  - only DECLARED sitemaps are read: expansion starts from
  *    [[Robots.sitemapUrls]] seeds and follows index children — a body
  *    present in the fetch store but never declared (nor listed by a
  *    declared index) contributes nothing.
  *
  * Scale shape: the body parse is ONE partition-preserving
  * mapPartitions over the (host, sitemap_url, body) fetch store (the
  * [[Robots]]/[[Multimodal]] line-walk discipline — entry meaning
  * depends on the enclosing root element, so scan-side HOFs don't
  * fit), run ONCE per body even when an index references it twice;
  * expansion is two keyed equi-joins (seeds ⋈ entries, children ⋈
  * entries) on the canonical sitemap-URL key, then one (host, url)
  * aggregation for the max-lastmod election. No fan-out beyond the
  * entry rows themselves; sitemap stores are model-sized next to the
  * corpus they describe.
  */
object Sitemaps {

  /** One parsed sitemap entry, every optional field RAW as written
    * (canonicalization happens in [[sitemapEntries]], ONE place for
    * batch and the streaming twin alike).
    */
  case class SitemapEntry(
      loc: String,
      lastmod: Option[String],
      changefreq: Option[String],
      priority: Option[String])

  /** The protocol's `<changefreq>` vocabulary in CADENCE ORDER — index
    * = election rank, so the MOST FREQUENT claim across re-listings
    * wins (the conservative direction, like the max-lastmod election:
    * when publishers disagree, recrawl sooner rather than later).
    */
  val ChangefreqTokens: Seq[String] =
    Seq("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")

  /** Canonical lowercase `<changefreq>` token, or None for anything
    * outside the protocol vocabulary (an unknown token is not a
    * cadence claim — NULL is visible where a guess would be silent).
    */
  def canonicalChangefreq(raw: String): Option[String] =
    Option(raw).map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(ChangefreqTokens.contains)

  /** `<priority>` as exact ppm (0.8 → 800000): the int8/PQ integer
    * discipline — a DOUBLE priority would drift between engines.
    * Out-of-range (the protocol bounds it to 0.0–1.0) and unparseable
    * values are None.
    */
  def priorityPpm(raw: String): Option[Long] =
    Option(raw).flatMap { r =>
      try {
        val bd = BigDecimal(r.trim)
        if (bd < 0 || bd > 1) None
        else Some((bd * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
      } catch { case _: NumberFormatException => None }
    }

  /** Election rank of a CANONICAL changefreq token (when-chain over
    * [[ChangefreqTokens]] — the single vocabulary source); NULL input
    * or (unreachable for canonical tokens) unknown input ranks NULL
    * and is ignored by the min-struct election.
    */
  private def changefreqRank(c: Column): Column =
    ChangefreqTokens.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (t, i)) => when(c === t, lit(i)).otherwise(acc)
    }

  /** The recrawl-prior INTERVAL a changefreq token claims, in ms —
    * `always` maps to 0 (the caller's min-interval clamp takes over:
    * the claim is "every visit"), the calendar tokens to their literal
    * spans (month = 30 d, year = 365 d — the protocol names no exact
    * lengths; these are the fixed conventions the oracle replays), and
    * `never` CLAMPS TO YEARLY: a polite crawler still revisits
    * archived pages, so "never" reads as the longest supported
    * cadence, not as "drop from the queue". Non-tokens map to NULL.
    */
  def changefreqIntervalMs(c: Column): Column =
    when(c === "always", lit(0L))
      .when(c === "hourly", lit(3600000L))
      .when(c === "daily", lit(86400000L))
      .when(c === "weekly", lit(7L * 86400000L))
      .when(c === "monthly", lit(30L * 86400000L))
      .when(c === "yearly" || c === "never", lit(365L * 86400000L))

  /** Case-insensitive index of tag `<name` in `s(from, until)` whose
    * name ends at a boundary (`>`, `/`, whitespace) — so `url` never
    * matches `<urlset`.
    */
  private def indexOfTag(s: String, name: String, from: Int, until: Int): Int = {
    val probe = "<" + name
    var i = math.max(from, 0)
    val limit = math.min(until, s.length) - probe.length
    while (i <= limit) {
      if (s.regionMatches(true, i, probe, 0, probe.length)) {
        val after = i + probe.length
        if (after >= s.length || s.charAt(after) == '>' || s.charAt(after) == '/' ||
            Character.isWhitespace(s.charAt(after))) return i
      }
      i += 1
    }
    -1
  }

  /** Trimmed inner text of the first `<name>…</name>` inside
    * `s(from, until)`, or None.
    */
  private def innerText(s: String, name: String, from: Int, until: Int): Option[String] = {
    val open = indexOfTag(s, name, from, until)
    if (open < 0) return None
    val gt = s.indexOf('>', open)
    if (gt < 0 || gt >= until) return None
    val close = {
      val probe = "</" + name
      var i = gt + 1
      var found = -1
      val limit = math.min(until, s.length) - probe.length
      while (found < 0 && i <= limit) {
        if (s.regionMatches(true, i, probe, 0, probe.length)) found = i
        i += 1
      }
      found
    }
    if (close < 0) None
    else {
      val v = s.substring(gt + 1, close).trim
      if (v.isEmpty) None else Some(v)
    }
  }

  /** Parse one sitemap body: `(isIndex, entries)` with every entry
    * field RAW as written (entity decode and changefreq/priority
    * canonicalization happen downstream). A NULL body, a body with
    * neither root element, or a body with no well-formed entries
    * parses to `(false, Nil)` — the fetch-store "recorded but empty"
    * contract.
    */
  def parseSitemap(text: String): (Boolean, Seq[SitemapEntry]) = {
    val s = Option(text).getOrElse("")
    val iSet = indexOfTag(s, "urlset", 0, s.length)
    val iIdx = indexOfTag(s, "sitemapindex", 0, s.length)
    if (iSet < 0 && iIdx < 0) return (false, Nil)
    val isIndex = iIdx >= 0 && (iSet < 0 || iIdx < iSet)
    val entryTag = if (isIndex) "sitemap" else "url"
    val out = scala.collection.mutable.ArrayBuffer.empty[SitemapEntry]
    var pos = (if (isIndex) iIdx else iSet) + 1
    var open = indexOfTag(s, entryTag, pos, s.length)
    while (open >= 0) {
      val close = {
        val probe = "</" + entryTag
        var i = open + 1
        var found = -1
        val limit = s.length - probe.length
        while (found < 0 && i <= limit) {
          if (s.regionMatches(true, i, probe, 0, probe.length)) found = i
          i += 1
        }
        found
      }
      val end = if (close >= 0) close else s.length
      innerText(s, "loc", open, end).foreach { loc =>
        out += SitemapEntry(loc,
          innerText(s, "lastmod", open, end),
          innerText(s, "changefreq", open, end),
          innerText(s, "priority", open, end))
      }
      pos = if (close >= 0) close + entryTag.length + 3 else s.length
      open = indexOfTag(s, entryTag, pos, s.length)
    }
    (isIndex, out.toSeq)
  }

  /** One row per `<loc>` entry of each fetched sitemap body:
    * (host, sitemap_url, loc, lastmod, changefreq, priority_ppm,
    * is_index, pos) — loc and lastmod RAW as written, changefreq
    * CANONICALIZED ([[canonicalChangefreq]]) and priority as exact ppm
    * ([[priorityPpm]]) at parse time, so batch and the streaming twin
    * canonicalize through ONE kernel; pos the 1-based entry order
    * within its body, is_index whether the BODY's root is
    * `<sitemapindex>` (so the loc names a child sitemap, not a page).
    * NULL hosts and NULL bodies emit no rows ([[Robots.robotsRules]]
    * contract). Partition-preserving mapPartitions — the at-rest parse
    * artifact both expansion joins of [[sitemapPageUrls]] read, so
    * each body parses ONCE.
    */
  def sitemapEntries(
      bodies: DataFrame,
      hostCol: String = "host",
      urlCol: String = "sitemap_url",
      textCol: String = "body"): DataFrame = {
    val spark = bodies.sparkSession
    import spark.implicits._
    bodies.select(col(hostCol), col(urlCol), col(textCol))
      .as[(String, String, String)]
      .mapPartitions(_.flatMap {
        case (null, _, _) => Iterator.empty
        case (h, u, t) =>
          val (isIndex, entries) = parseSitemap(t)
          entries.iterator.zipWithIndex.map { case (e, i) =>
            (h, u, e.loc, e.lastmod.orNull,
              canonicalChangefreq(e.changefreq.orNull).orNull,
              priorityPpm(e.priority.orNull),
              isIndex, (i + 1).toLong)
          }
      })
      .toDF("host", "sitemap_url", "loc", "lastmod", "changefreq",
        "priority_ppm", "is_index", "pos")
  }

  /** The PAGE URLs a host's declared sitemaps list — robots-harvested
    * seeds ([[Robots.sitemapUrls]]), one bounded index hop, locs
    * entity-decoded → RFC 3986-resolved against their sitemap's URL →
    * canonicalized, cross-host locs dropped (see the object scaladoc
    * for each rule). One row per distinct (host, url) with the MAX
    * lastmod across the entries that list it (the latest change claim
    * wins — the recrawl prior's conservative direction), the
    * MOST-FREQUENT canonical changefreq claim ([[ChangefreqTokens]]
    * rank, elected via a min-struct so unknown/absent claims never
    * pool), and the MAX priority_ppm. Output: (host, url, lastmod,
    * changefreq, priority_ppm), handed to `use`; the parsed-entry frame
    * it reads stays cached until `use` returns, then is released.
    */
  def sitemapPageUrls[T](
      robots: DataFrame,
      bodies: DataFrame,
      robotsHostCol: String = "host",
      robotsTextCol: String = "robots_txt",
      bodiesHostCol: String = "host",
      bodiesUrlCol: String = "sitemap_url",
      bodiesTextCol: String = "body")(use: DataFrame => T): T = {
    val entries = sitemapEntries(bodies, bodiesHostCol, bodiesUrlCol, bodiesTextCol)
      // the join identity of a sitemap FILE is its canonical URL — the
      // fetch store records the URL as fetched, seeds/children as
      // declared, and the two may spell one file differently
      .withColumn("__k", UrlOps.canonicalUrl(col("sitemap_url")))
      // decode → resolve (relative locs resolve against their sitemap's
      // own URL, the link extractor's base convention) → canonicalize;
      // the SAME kernels every frontier URL flows through
      .withColumn("__u", UrlOps.canonicalUrl(graft.functions.ResolveHref.of(
        col("sitemap_url"), graft.functions.HtmlUnescape.of(col("loc")))))
      // same-host rule: a loc only informs the host that declared it
      .where(col("__u").isNotNull && UrlOps.hostOf(col("__u")) === col("host"))
      .select(col("host"), col("__k"), col("__u"), col("lastmod"),
        col("changefreq"), col("priority_ppm"), col("is_index"))
      // the parsed-entry frame feeds THREE plan branches (the seed join
      // below is itself read twice — pages1 and the children election —
      // and the index-hop join reads entries again): persist, or every
      // branch re-runs the whole fetch-store parse — at corpus scale the
      // dominant term of this operator, and the parse-ONCE contract
      // [[sitemapEntries]] documents (r22; guide §2.4/§5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = Robots.sitemapUrls(robots, robotsHostCol, robotsTextCol)
      .select(col("host"), UrlOps.canonicalUrl(col("sitemap_url")).as("__k"))
      .distinct()
    val pageCols = Seq(col("host"), col("__u"), col("lastmod"),
      col("changefreq"), col("priority_ppm"))
    val l1 = seeds.join(entries, Seq("host", "__k"))
    val pages1 = l1.where(!col("is_index")).select(pageCols: _*)
    // ONE index hop: a child listed by a depth-1 index is read for its
    // PAGE entries only — a child that is itself an index is dropped
    // (out-of-spec nesting; the recursion bound)
    val children = l1.where(col("is_index"))
      .select(col("host"), col("__u").as("__k")).distinct()
    val pages2 = children.join(entries, Seq("host", "__k"))
      .where(!col("is_index")).select(pageCols: _*)
    val pages = pages1.unionByName(pages2)
      .groupBy(col("host"), col("__u").as("url"))
      .agg(max(col("lastmod")).as("lastmod"),
        // min-struct election: NULL claims contribute nothing (min
        // skips NULL inputs), rank ties share one token
        min(when(changefreqRank(col("changefreq")).isNotNull,
          struct(changefreqRank(col("changefreq")).as("r"),
            col("changefreq").as("t")))).as("__cfe"),
        max(col("priority_ppm")).as("priority_ppm"))
      .select(col("host"), col("url"), col("lastmod"),
        col("__cfe.t").as("changefreq"), col("priority_ppm"))
    try use(pages) finally entries.unpersist()
  }
}
