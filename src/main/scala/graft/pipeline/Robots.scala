package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** robots.txt policy resolution — the crawl-compliance stage of the
  * web-ingest provenance family: a corpus built from crawled pages must
  * be able to answer "was this fetch allowed?" per document, both to
  * filter retroactively (a policy added after the crawl) and to audit.
  *
  * Semantics follow the de-facto standard (REP, RFC 9309 / the Google
  * reference parser's documented behavior) restricted to the portable
  * core:
  *
  *  - scope: a policy governs the HOST (origin) that serves it — each
  *    host has its own /robots.txt, an apex policy does NOT govern its
  *    subdomains, and a subdomain's stricter policy must never be
  *    shadowed by the apex's. The rules table is therefore keyed by
  *    host and the decision join matches the document URL's full host
  *    (NOT its registrable domain — that key is for dedup/cap/opt-out,
  *    where subdomains should pool);
  *  - group model: one or more consecutive `User-agent:` lines open a
  *    group; GROUP-SCOPED rule fields (`Allow:`/`Disallow:`/
  *    `Crawl-delay:`) end the run, so a later `User-agent:` line opens
  *    a NEW group (one boundary convention for every parser here —
  *    rules and delays cannot disagree about which group a line
  *    belongs to); `Sitemap:` and unknown fields are NOT group-scoped
  *    and do not end the run (RFC 9309);
  *  - agent precedence (RFC 9309 §2.2.1, the Google-parser
  *    most-specific convention): a named group matches when its agent
  *    token is a case-insensitive PREFIX of the crawler's product
  *    token (`googlebot` matches a `googlebot-news` crawler); among
  *    matching named tokens the LONGEST wins, and every group carrying
  *    a winning token combines in file order; `*` groups apply ONLY
  *    when no named group matches. The default agent is `*` (a generic
  *    corpus crawler);
  *  - decision: the LONGEST matching prefix wins; on a tie, `Allow`
  *    beats `Disallow`; no rule matches → allowed (and an absent or
  *    empty/NULL robots.txt allows everything); matching is over the
  *    request target — path PLUS optional `?query` (RFC 9309), so a
  *    `Disallow: /search?q=` rule matches;
  *  - an empty `Disallow:` value is "allow all" (no rule), per the
  *    original REP; `$`/`*` pattern specials match per RFC 9309 §2.2.3
  *    ([[graft.functions.RobotsMatch]]); rule values and targets are
  *    compared percent-DECODED per §2.2.2 — all but `%2F`; a rule's
  *    `%2A`/`%24` decode to LITERAL-special markers so they match a
  *    target's raw `*`/`$` without minting pattern specials — through
  *    the ONE shared kernel
  *    ([[graft.functions.RobotsPctNormKernel]]: rules normalize at
  *    parse time here in rule mode, targets scan-side in the decision
  *    fold in target mode);
  *  - rule values longer than [[MaxRulePatternBytes]] chars are DROPPED
  *    at parse time: robots.txt is adversary-controlled input matched
  *    per (document × rule), the wildcard matcher is quadratic on
  *    hostile multi-star patterns, and no legitimate path rule
  *    approaches the cap (the Google-parser discipline of bounding
  *    rule length);
  *  - comments (`#` to end of line), blank lines, CRLF, and
  *    case-insensitive field names are handled.
  *
  * Scale shape: parsing is a partition-preserving mapPartitions over
  * the (host, robots_txt) table — one sequential line walk per host,
  * the [[Multimodal]] decode discipline (a line's meaning depends on
  * the lines before it, so scan-side HOFs don't fit). Resolution is one
  * keyed join of the corpus's fixed-width (id, host, path) projection
  * against the rules table (rules-per-host is small; hosts are Zipfian
  * — the join is the same shape as the domain cap's window input) plus
  * one per-document aggregation.
  */
object Robots {

  /** Parse-time cap on one rule's pattern length in UTF-8 OCTETS —
    * bounds the wildcard matcher's per-row work on adversarial input
    * (the matcher walks UTF-8 bytes, so the quadratic bound must be
    * enforced in the same unit; a char-count cap is up to 4× looser on
    * multibyte rules); see the object scaladoc.
    */
  val MaxRulePatternBytes = 2048

  /** True iff a rule VALUE carries a raw C0 control character
    * (U+0000–U+001F). RFC 9309's path-pattern grammar excludes exactly
    * these (`UTF8-1noctl = %x21 / %x22 / %x24-7F` — C0 out, DEL
    * allowed; space and `#` are handled structurally by trim and
    * comment-strip), so such a line is malformed and [[parseGroups]]
    * DROPS the rule — which also makes the matcher's private
    * literal-marker bytes
    * ([[graft.functions.RobotsMatchKernel.LiteralStar]]/`LiteralDollar`,
    * 0x01/0x02) unreachable from ANY input unconditionally: escaped
    * `%01`/`%02` stay percent-encoded on both sides of the comparison,
    * and a raw control byte never survives parse. Scope: INTERIOR
    * characters of the value only — the common authoring artifact
    * (`Disallow: /x<TAB># comment`) never reaches this check, because
    * comment-strip plus `trim` already removes it, so the rule
    * survives intact; what drops is a control byte INSIDE the path,
    * which no valid URL path contains raw. (`\n` can't appear in a
    * line; an interior `\r` is itself C0.)
    */
  private def hasRawControlChar(value: String): Boolean = {
    var i = 0
    while (i < value.length) {
      if (value.charAt(i) < 0x20) return true
      i += 1
    }
    false
  }

  case class RobotsRule(host: String, prefix: String, allow: Boolean)

  /** One parsed robots.txt group: its (lowercased) agent tokens, its
    * rules in file order, and its minimum valid Crawl-delay in exact
    * integer milliseconds (decimal seconds parsed digit-wise, never
    * through a float).
    */
  case class RobotsGroup(
      agents: Seq[String],
      rules: Seq[(String, Boolean)],
      delayMs: Option[Long])

  /** The full group/sitemap parse of one robots.txt body — the single
    * line walk every public parser below selects from (one group-
    * boundary convention, so the rule and delay views can never
    * disagree). A NULL body reads as an EMPTY body (no groups = allow
    * everything — the absent-robots contract; a fetch store records
    * "no robots.txt" as a NULL payload, not as a missing row).
    * Sitemaps are host-wide (not group-scoped) and returned verbatim
    * in file order.
    */
  def parseGroups(text: String): (Seq[RobotsGroup], Seq[String]) = {
    val groups = scala.collection.mutable.ArrayBuffer.empty[RobotsGroup]
    val sitemaps = scala.collection.mutable.ArrayBuffer.empty[String]
    var agents = Vector.empty[String]
    var rules = Vector.empty[(String, Boolean)]
    var delay: Option[Long] = None
    var collectingAgents = false // inside a run of consecutive User-agent lines
    var open = false             // a group is being built
    def flush(): Unit = {
      if (open) groups += RobotsGroup(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = None; open = false
    }
    Option(text).getOrElse("").split("\n", -1).foreach { raw =>
      val line = {
        val noCr = if (raw.endsWith("\r")) raw.dropRight(1) else raw
        val hash = noCr.indexOf('#')
        (if (hash >= 0) noCr.substring(0, hash) else noCr).trim
      }
      val colon = line.indexOf(':')
      if (line.nonEmpty && colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            if (!collectingAgents) { flush(); collectingAgents = true }
            open = true
            if (value.nonEmpty) agents :+= value.toLowerCase
          case "allow" | "disallow" =>
            collectingAgents = false
            open = true
            // empty Disallow = allow-all (no rule); empty Allow is a
            // no-op the same way; over-cap values drop (hostile-pattern
            // bound); raw-control-byte values drop (malformed per the
            // RFC grammar — and the marker-unreachability guarantee,
            // see hasRawControlChar); the pattern is stored
            // percent-NORMALIZED — the §2.2.2 comparison space the
            // decision fold's target side shares
            if (value.nonEmpty && !hasRawControlChar(value) &&
                value.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= MaxRulePatternBytes)
              rules :+= ((graft.functions.RobotsPctNormKernel.normalizeRule(value),
                field == "allow"))
          case "crawl-delay" =>
            collectingAgents = false
            open = true
            parseDelayMs(value).foreach(ms =>
              delay = Some(delay.fold(ms)(math.min(_, ms))))
          case "sitemap" =>
            // host-wide, independent of groups — does NOT end the run
            if (value.nonEmpty) sitemaps += value
          case _ => () // unknown fields don't close the agent run (RFC 9309)
        }
      }
    }
    flush()
    (groups.toSeq, sitemaps.toSeq)
  }

  /** Decimal-seconds Crawl-delay value → exact integer milliseconds
    * (digit-wise — "2.5" → 2500 ms, never through a float); None for
    * malformed values.
    */
  private def parseDelayMs(value: String): Option[Long] = {
    val (ip, fp) = value.indexOf('.') match {
      case -1 => (value, "")
      case d  => (value.substring(0, d), value.substring(d + 1))
    }
    if (ip.nonEmpty && ip.forall(_.isDigit) && fp.forall(_.isDigit) && ip.length <= 7)
      Some(ip.toLong * 1000L + (fp + "000").take(3).toLong)
    else None
  }

  /** The groups that govern crawler `agent` (RFC 9309 §2.2.1 with the
    * most-specific extension; see the object scaladoc): named groups
    * whose longest case-insensitively-prefix-matching token is maximal,
    * else the `*` groups. Agent `*` selects the `*` groups directly.
    */
  def selectGroups(groups: Seq[RobotsGroup], agent: String): Seq[RobotsGroup] = {
    val a = agent.toLowerCase
    val star = groups.filter(_.agents.contains("*"))
    if (a == "*") star
    else {
      val named = groups.flatMap { g =>
        val lens = g.agents.filter(t => t != "*" && a.startsWith(t)).map(_.length)
        if (lens.isEmpty) None else Some((g, lens.max))
      }
      if (named.isEmpty) star
      else {
        val best = named.map(_._2).max
        named.collect { case (g, len) if len == best => g }
      }
    }
  }

  /** Parse one robots.txt body into the rules governing `agent`
    * (default `*` — the generic-crawler group), in file order across
    * the selected groups.
    */
  def parseRobots(host: String, text: String, agent: String = "*"): Seq[RobotsRule] =
    selectGroups(parseGroups(text)._1, agent)
      .flatMap(_.rules.map { case (p, a) => RobotsRule(host, p, a) })

  /** Parse the Crawl-delay governing `agent` (default `*`) to integer
    * MILLISECONDS, or None. Crawl-delay is the de-facto politeness
    * extension (not in RFC 9309; Bing/Yandex honor it): the MINIMUM
    * across the selected groups wins (the conservative politeness
    * choice when a file repeats the field), malformed values are
    * skipped, and unselected groups contribute nothing.
    */
  def parseCrawlDelayMs(text: String, agent: String = "*"): Option[Long] = {
    val delays = selectGroups(parseGroups(text)._1, agent).flatMap(_.delayMs)
    if (delays.isEmpty) None else Some(delays.min)
  }

  /** `Sitemap:` URLs of one robots.txt body, verbatim in file order —
    * host-wide per the sitemaps protocol (the field is not group-
    * scoped), the frontier-seeding signal a crawler harvests before it
    * ever fetches a page.
    */
  def parseSitemaps(text: String): Seq[String] = parseGroups(text)._2

  /** Per-host sitemap harvest from a (host, robots_txt) table: one row
    * per declared `Sitemap:` URL — (host, sitemap_url, pos), pos the
    * 1-based file-order position (a host's first sitemap is its
    * primary index by convention). Hosts that declare none emit no
    * rows; NULL hosts are skipped ([[robotsRules]] contract).
    * Partition-preserving mapPartitions — the frontier seed list a
    * crawl scheduler joins against, model-sized next to the corpus.
    */
  def sitemapUrls(
      robots: DataFrame,
      hostCol: String = "host",
      textCol: String = "robots_txt"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol), col(textCol)).as[(String, String)]
      .mapPartitions(_.flatMap {
        case (null, _) => Iterator.empty
        case (h, t) => parseSitemaps(t).iterator.zipWithIndex.map {
          case (u, i) => (h, u, (i + 1).toLong)
        }
      })
      .toDF("host", "sitemap_url", "pos")
  }

  /** Per-host politeness budget from a (host, robots_txt) table: one row
    * per host that declares a Crawl-delay governing `agent` — (host,
    * delay_ms, daily_budget = 86_400_000 DIV delay_ms), the fetches-
    * per-day ceiling a polite crawler schedules against. Hosts without
    * the field emit no row (politeness policy is then the crawler's own
    * default, a config knob — absence must stay visible, not default
    * silently here). Partition-preserving mapPartitions, the
    * [[robotsRules]] shape.
    */
  def crawlDelayBudget(
      robots: DataFrame,
      hostCol: String = "host",
      textCol: String = "robots_txt",
      agent: String = "*"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol), col(textCol)).as[(String, String)]
      .mapPartitions(_.flatMap {
        case (null, _) => Iterator.empty
        case (h, t) => parseCrawlDelayMs(t, agent).iterator.map(ms =>
          (h, ms, 86400000L / math.max(ms, 1L)))
      })
      .toDF("host", "delay_ms", "daily_budget")
  }

  /** BATCH politeness-budget admission — the batch twin of the online
    * per-host budget stage in
    * [[graft.streaming.StreamDedup.crawlIngestStream]]: each host that
    * declared a Crawl-delay gets `daily_budget` fetches per UTC day
    * (day = ts DIV 86_400_000 — `tsCol` is epoch MILLISECONDS), kept in
    * (ts, id) arrival order; hosts without a declared budget and
    * NULL-host documents pass uncapped with fetch_rank 0 (the crawler's
    * own politeness default is a config knob — absence stays visible).
    * Output: (idCol, host, day, fetch_rank, kept).
    *
    * Scale shape: one left join against the model-sized budget table,
    * then ONE window keyed (host, day) — budget-less and NULL-host rows
    * ride unique NUL-prefixed keys through the SAME window (the
    * domainCapSurvivors single-pass discipline: a where/union split
    * would evaluate the upstream twice), so no straggler partition.
    */
  def crawlBudgetKept(
      docs: DataFrame,
      budgets: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      tsCol: String = "fetch_ts"): DataFrame = {
    val missing = Seq("host", "daily_budget").filterNot(budgets.columns.contains)
    require(missing.isEmpty,
      s"crawlBudgetKept: budgets must carry (host, daily_budget); missing ${missing.mkString(", ")}")
    val b = budgets.select(col("host"), col("daily_budget").cast("long").as("daily_budget"))
    val joined = docs
      .select(col(idCol),
        UrlOps.hostOf(col(urlCol)).as("host"),
        col(tsCol).cast("long").as("__ts"))
      .withColumn("day", expr("__ts DIV 86400000"))
      .join(b, Seq("host"), "left")
    val key = when(col("host").isNull || col("daily_budget").isNull,
        concat(lit("\u0000"), col(idCol).cast("string")))
      .otherwise(concat(col("host"), lit("\u0000"), col("day").cast("string")))
    val w = Window.partitionBy(key).orderBy(col("__ts"), col(idCol))
    joined
      .withColumn("__rn", row_number().over(w).cast("long"))
      .select(col(idCol), col("host"), col("day"),
        when(col("daily_budget").isNull, lit(0L)).otherwise(col("__rn")).as("fetch_rank"),
        (col("daily_budget").isNull || col("__rn") <= col("daily_budget")).as("kept"))
  }

  /** Per-host POLITENESS FETCH SCHEDULE — the step that turns a crawl
    * FRONTIER (candidate URLs from sitemap harvest, link discovery, a
    * recrawl queue) into dispatchable work: each host's candidates are
    * sequenced deterministically (URL order) and slot k may not fire
    * before `(k−1) · delay` — the host's declared Crawl-delay
    * ([[crawlDelayBudget]]'s `delay_ms`), or the crawler's own
    * `defaultDelayMs` when the host declared none. The output is the
    * scheduling PLAN (host, url, slot, not_before_ms), the declarative
    * artifact a fetch executor consumes — the batch face of the online
    * budget admission ([[graft.streaming.StreamDedup.politeBudgetAdmit]]
    * enforces arrivals against the same ceiling; this op PLACES work so
    * the ceiling is never hit). NULL-host candidates (unparseable
    * discoveries) get slot 1 / not_before 0 on unique NUL-prefixed keys
    * — visible, never pooled into a straggler partition (the
    * [[crawlBudgetKept]] single-window discipline).
    *
    * Scale shape: ONE broadcast join against the model-sized delay
    * table + ONE window keyed by host. A hot host's frontier lands in
    * one partition — inherent to per-host sequencing (the slots ARE a
    * per-host total order), and the rows in that partition are exactly
    * the fetches the schedule spreads over time anyway.
    */
  def fetchSchedule(
      candidates: DataFrame,
      budgets: DataFrame,
      defaultDelayMs: Long = 1000L,
      hostCol: String = "host",
      urlCol: String = "url",
      orderBy: Seq[Column] = Nil,
      keepCols: Seq[String] = Nil,
      maxPerHost: Option[Long] = None,
      opName: String = "fetchSchedule"): DataFrame = {
    // opName: delegating operators (fetchScheduleByPriority) pass their
    // own name so a require failure reports the operator the CALLER
    // invoked, not the shared kernel
    require(defaultDelayMs >= 1, s"$opName: defaultDelayMs must be positive, got $defaultDelayMs")
    require(budgets.columns.contains("delay_ms"),
      s"$opName: budgets must carry delay_ms (a crawlDelayBudget table), got ${budgets.columns.mkString(", ")}")
    require(maxPerHost.forall(_ >= 1),
      s"$opName: maxPerHost must be positive, got $maxPerHost")
    val reserved = Seq("slot", "not_before_ms", "__dm", "__pk").filter(candidates.columns.contains)
    require(reserved.isEmpty,
      s"$opName: candidates columns collide with output/internal names (rename them): " +
        reserved.mkString(", "))
    val b = budgets.select(col(hostCol), col("delay_ms").cast("long").as("__dm"))
    // the one per-host sequencing window, parameterized: URL order by
    // default, a caller ordering (value-ordered dispatch) otherwise
    val order = if (orderBy.nonEmpty) orderBy else Seq(col(urlCol))
    val w = Window.partitionBy("__pk").orderBy(order: _*)
    val slotted = candidates
      .join(broadcast(b), Seq(hostCol), "left")
      .withColumn("__pk", coalesce(col(hostCol), concat(lit(" "), col(urlCol))))
      .withColumn("slot", row_number().over(w).cast("long"))
    // the slot <= k budget filter sits directly over the row_number so
    // it rewrites to WindowGroupLimit (map-side pruning)
    maxPerHost.fold(slotted)(k => slotted.where(col("slot") <= k))
      .select(Seq(col(hostCol), col(urlCol)) ++ keepCols.map(col) ++ Seq(col("slot"),
        when(col(hostCol).isNull, lit(0L))
          .otherwise((col("slot") - 1) * coalesce(col("__dm"), lit(defaultDelayMs)))
          .as("not_before_ms")): _*)
  }

  /** (host, prefix, allow) rules from a (host, robots_txt) table — the
    * at-rest policy artifact, keyed by the origin host the policy was
    * fetched from, selected for `agent` (default `*`; a crawler with a
    * published product token passes it to get RFC 9309 most-specific
    * precedence). Hosts whose robots.txt yields no rules for the agent
    * produce no rows (= allow everything downstream); a NULL body
    * parses as empty; a NULL host is skipped — a rule row without an
    * origin can never match any document, and emitting NULL-keyed rules
    * would just poison the decision join's NULL arm.
    */
  def robotsRules(
      robots: DataFrame,
      hostCol: String = "host",
      textCol: String = "robots_txt",
      agent: String = "*"): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol), col(textCol)).as[(String, String)]
      .mapPartitions(_.flatMap {
        case (null, _) => Iterator.empty
        case (h, t)    => parseRobots(h, t, agent)
      })
      .toDF()
  }

  /** TIME-VERSIONED robots decision — the compliance-audit form: "was
    * this fetch allowed under the policy IN FORCE when it happened?"
    * Robots policies change; judging a year-old fetch against today's
    * policy is wrong in both directions (a later Disallow must not
    * retroactively taint lawful fetches, and a later Allow must not
    * launder a violation). `robotsVersions` is the fetch store's policy
    * HISTORY — (host, version_ts, robots_txt), one row per observed
    * policy version, NULL bodies = the absent-robots observation —
    * and each document's decision uses the latest version with
    * version_ts <= its fetch timestamp. Rules select for `agent`
    * (default `*`), RFC 9309 precedence per version.
    *
    * A version whose body yields NO rules for the agent (or a NULL
    * body) still REGISTERS as a version: a new permissive policy must
    * supersede an old restrictive one, so versions are carried as
    * (possibly empty) rule arrays, never dropped. Documents with no
    * version at or before their fetch (the crawl predates the first
    * observation) and NULL-host documents are allowed with a NULL
    * `policy_ts` — visible, not silently judged against a future
    * policy.
    *
    * Scale shape: parsing is one mapPartitions over the version store;
    * versions pre-aggregate to ONE array row per (host, version_ts);
    * the in-force election is [[graft.operators.AsOfJoin.backward]]
    * keyed on the host (policy histories per host are short — the
    * timeline window is bounded); the decision is the same scan-side
    * fold as [[robotsAllowed]]. NULL-host docs ride unique synthetic
    * keys (the domainCap discipline — no straggler partition).
    * Output: (idCol, host, allowed, rule_len, policy_ts).
    */
  def robotsAllowedAsOf(
      docs: DataFrame,
      robotsVersions: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      tsCol: String = "fetch_ts",
      hostCol: String = "host",
      versionTsCol: String = "version_ts",
      textCol: String = "robots_txt",
      agent: String = "*"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val missing = Seq(hostCol, versionTsCol, textCol)
      .filterNot(robotsVersions.columns.contains)
    require(missing.isEmpty,
      s"robotsAllowedAsOf: robotsVersions must carry ($hostCol, $versionTsCol, " +
        s"$textCol); missing ${missing.mkString(", ")}")
    val reserved = Seq("host", "allowed", "rule_len", "policy_ts", "__k", "__path", "__rules", "__enc")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"robotsAllowedAsOf: docs columns collide with output/internal names " +
        s"(rename them): ${reserved.mkString(", ")}")
    // one row per (host, version) — rule-less versions emit a marker row
    // whose NULL prefix collect_list then skips, leaving an EMPTY array
    val versioned = robotsVersions
      .select(col(hostCol), col(versionTsCol).cast("long"), col(textCol))
      .as[(String, Long, String)]
      .mapPartitions(_.flatMap {
        case (null, _, _) => Iterator.empty
        case (h, ts, t) =>
          val rs = parseRobots(h, t, agent)
          if (rs.isEmpty) Iterator.single((h, ts, null: String, false))
          else rs.iterator.map(r => (h, ts, r.prefix, r.allow))
      })
      .toDF("__k", versionTsCol, "prefix", "allow")
      .groupBy("__k", versionTsCol)
      .agg(collect_list(when(col("prefix").isNotNull,
        struct(col("prefix"), col("allow")))).as("__rules"))
    val docsSide = docs.select(col(idCol),
      UrlOps.hostOf(col(urlCol)).as("host"),
      // the §2.2.2 comparison space the stored rules share — normalized
      // ONCE per document, not per rule
      graft.functions.RobotsPctNorm.of(UrlOps.urlPath(col(urlCol))).as("__path"),
      col(tsCol).cast("long").as(tsCol))
      .withColumn("__k",
        coalesce(col("host"), concat(lit(" "), col(idCol).cast("string"))))
    graft.operators.AsOfJoin.backward(
        docsSide, versioned, keys = Seq("__k"),
        leftTs = tsCol, rightTs = versionTsCol,
        payload = Seq("__rules"), matchedTs = "policy_ts")
      .withColumn("__enc", ruleFold(col("__rules"), col("__path")))
      .select(col(idCol), col("host"),
        (col("__enc") === -1L || col("__enc") % 2 === 1L).as("allowed"),
        when(col("__enc") === -1L, lit(-1L)).otherwise(expr("__enc DIV 2")).as("rule_len"),
        col("policy_ts").cast("long").as("policy_ts"))
  }

  /** Per-document robots decision: (idCol, host, allowed, rule_len).
    * `rule_len` is the matched rule's prefix length (ties resolved
    * allow-first), -1 when no rule matched (default allow). NULL-host
    * documents (unparseable provenance) and hosts absent from `rules`
    * are allowed with rule_len -1 — visible, not silently dropped.
    * Matching is host-exact (RFC 9309 origin scope) over the request
    * target ([[UrlOps.urlPath]]: path + optional query).
    *
    * The (len, allow) lexicographic max is encoded as `len * 2 + allow`,
    * computed SCAN-SIDE: rules pre-aggregate to one array row per
    * host (the tiny side pays the only aggregation), each document
    * joins exactly ONE rules row, and the decision is a HOF fold over
    * the array — no per-document fan-out, no second shuffle, and the
    * whole thing is stream-static-join legal, so an ingest stream can
    * drop disallowed fetches online (spec-asserted MemoryStream ==
    * batch).
    */
  /** The shared decision fold: encoded best match over a rule array —
    * `max(pattern_octets * 2 + allow)` across matching rules, -1 when
    * none match. Matching is RFC 9309 §2.2.3 pattern matching
    * ([[graft.functions.RobotsMatch]]: `*` wildcards, trailing `$`
    * anchor; wildcard-free rules degrade to the exact prefix test, so
    * decisions on plain rules are byte-identical to the prefix-only
    * matcher this replaces). Precedence follows the RFC's "most
    * octets" read applied to the PATTERN — a `$`-anchored or starred
    * rule counts its specials, the convention the reference parsers
    * (Google's C++ matcher) use.
    */
  private def ruleFold(rulesCol: Column, pathCol: Column): Column =
    aggregate(
      coalesce(rulesCol, expr("array()")),
      lit(-1L),
      (acc, r) => greatest(acc,
        when(graft.functions.RobotsMatch.of(pathCol, r.getField("prefix")),
          // octet_length, not length: the RFC's "most octets" rank —
          // character count diverges on multibyte UTF-8 rules (the
          // percent-DECODED rules normalizeRulePrefix produces)
          octet_length(r.getField("prefix")).cast("long") * lit(2L) +
            when(r.getField("allow"), lit(1L)).otherwise(lit(0L)))
          .otherwise(lit(-1L))))

  def robotsAllowed(
      docs: DataFrame,
      rules: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      keepCols: Seq[String] = Nil): DataFrame = {
    val missing = Seq("host", "prefix", "allow").filterNot(rules.columns.contains)
    require(missing.isEmpty,
      s"robotsAllowed: rules must carry (host, prefix, allow); missing ${missing.mkString(", ")}")
    val reserved = Seq("host", "allowed", "rule_len", "__path", "__rules", "__enc")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"robotsAllowed: docs columns collide with output/internal names " +
        s"(rename them): ${reserved.mkString(", ")}")
    val perHost = rules
      .select(col("host"), col("prefix"), col("allow").cast("boolean").as("allow"))
      .groupBy("host")
      .agg(collect_list(struct(col("prefix"), col("allow"))).as("__rules"))
    docs
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(
        UrlOps.hostOf(col(urlCol)).as("host"),
        // the §2.2.2 comparison space the stored rules share
        graft.functions.RobotsPctNorm.of(UrlOps.urlPath(col(urlCol))).as("__path")): _*)
      .join(perHost, Seq("host"), "left")
      .withColumn("__enc", ruleFold(col("__rules"), col("__path")))
      .select((col(idCol) +: keepCols.map(col)) ++ Seq(col("host"),
        (col("__enc") === -1L || col("__enc") % 2 === 1L).as("allowed"),
        when(col("__enc") === -1L, lit(-1L)).otherwise(expr("__enc DIV 2")).as("rule_len")): _*)
  }
}
