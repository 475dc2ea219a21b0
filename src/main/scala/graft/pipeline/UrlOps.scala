package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL and domain operations — the provenance axis of a web corpus
  * pipeline. Crawl pipelines (CCNet, RefinedWeb, FineWeb) run three
  * URL-keyed stages this file provides: CANONICALIZE the URL (the same
  * page arrives under byte-variant URLs — tracking params, fragments,
  * case-variant hosts, default ports — and URL-level dedup is worthless
  * until those collapse), CAP documents per registrable domain (one
  * spammy or over-crawled site must not dominate the corpus — the
  * RefinedWeb/FineWeb anti-spam stage), and report per-domain
  * composition (the data-card table mixture decisions read).
  *
  * Everything is scan-side string/array work (regex component split,
  * HOF param filtering, public-suffix rule lookup against the frozen
  * [[PslSnapshot]] literal arrays) except the two keyed operators,
  * which are each ONE aggregation/window keyed by the canonical URL or
  * the domain — the minimal shuffle their semantics require, with
  * fixed-width keys (the text never rides along). Rows with a NULL key
  * (unparseable provenance) never pool into one window partition: they
  * get a unique NUL-prefixed synthetic partition key, so a crawl heavy
  * in junk URLs pays no straggler partition.
  *
  * Scope, documented: http(s) URLs. Registrable-domain extraction
  * implements the public-suffix-list algorithm (longest matching rule;
  * wildcard rules; exception rules beat everything) over the frozen
  * [[PslSnapshot]] artifact — including the list's PRIVATE section
  * (github.io, blogspot.com, …) where every user site is a distinct
  * registrable domain, which is what makes the domain cap fair to
  * platform-hosted long-tail content. A fuller or newer list snapshot
  * swaps in at the [[PslSnapshot]] seam.
  */
object UrlOps {
  /** Query parameters stripped during canonicalization by default —
    * tracking decoration that varies per click, never per page (the
    * utm_* campaign family and the per-platform click ids). Bare `ref`
    * is deliberately NOT in the default list: unlike `utm_*`/`*clid`
    * it is load-bearing on some sites (code forges, docs sites route
    * on it) — pass a custom list to [[canonicalUrl]] for corpora where
    * it is known to be tracking-only.
    */
  val trackingParams: Seq[String] =
    Seq("utm_source", "utm_medium", "utm_campaign", "utm_term",
      "utm_content", "utm_id", "fbclid", "gclid", "msclkid")

  /** Default ceiling on a [[crawledUrlBloomShards]] family's TOTAL
    * serialized filter bytes — the bytes resident in EVERY executor's
    * heap while a [[freshViaBloomSharded]] probe runs (2 GiB ≈ a 10⁹-key
    * family at fpp 0.001; the formula and the refusal are documented on
    * the builder).
    */
  val MaxShardFamilyBytes: Long = 2L << 30

  // group 2 skips an optional userinfo prefix (user:pass@) — credentials
  // in URLs are transport artifacts and a secrets leak; the canonical
  // form strips them, and the registrable domain must never see them
  private val partsRe = "^(?i)(https?)://(?:[^/?#@]*@)?([^/?#]*)([^?#]*)\\??([^#]*)"

  private def isTracking(p: Column, strip: Seq[String]): Column =
    strip.map(t => p === t || p.startsWith(t + "=")).reduce(_ || _)

  /** Canonical form of an http(s) URL Column:
    *  1. fragment dropped (client-side only — never reaches the server),
    *  2. scheme and host lowercased (case-insensitive by RFC 3986),
    *  3. default port stripped (`:80` for http, `:443` for https),
    *  4. trailing path slash trimmed (empty path → `/`),
    *  5. params in `stripParams` dropped, the rest SORTED and rejoined
    *     (param order is transport noise; sorting makes equal param
    *     sets equal strings).
    * Non-http(s) input canonicalizes to NULL — an ingest feed carrying
    * ftp/mailto/garbage surfaces as NULL keys, not as silently-kept
    * junk rows.
    *
    * Implemented as a native Catalyst expression
    * ([[graft.functions.CanonicalUrl]] — ONE matcher pass per row vs
    * the Column form's four `regexp_extract`s + two replaces + HOF
    * filter + array sort, ~66 µs/row → ~µs/row; canonicalization is
    * the first stage of the ingest chain, so its per-row constant IS
    * the 100 TB cost). The Column spelling is kept below as the
    * differential reference (UrlOpsSpec asserts byte equality).
    */
  def canonicalUrl(url: Column, stripParams: Seq[String] = trackingParams): Column =
    graft.functions.CanonicalUrl.of(url, stripParams)

  /** The pure-Column canonicalization — the differential reference for
    * [[canonicalUrl]]'s kernel (do not use in hot paths).
    */
  private[pipeline] def canonicalUrlHof(
      url: Column, stripParams: Seq[String] = trackingParams): Column = {
    val scheme = lower(regexp_extract(url, partsRe, 1))
    val hostport = lower(regexp_extract(url, partsRe, 2))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(regexp_replace(hostport, ":443$", ""))
    val rawPath = regexp_extract(url, partsRe, 3)
    val path = when(rawPath === "", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    // an all-slash path reduces to "" after the trim: root it
    val path1 = when(path === "", lit("/")).otherwise(path)
    val rawQuery = regexp_extract(url, partsRe, 4)
    val params = filter(split(rawQuery, "&"), p => p =!= "" && !isTracking(p, stripParams))
    val query = array_join(array_sort(params), "&")
    val canon = concat(scheme, lit("://"), host, path1,
      when(query === "", lit("")).otherwise(concat(lit("?"), query)))
    when(scheme === "", lit(null).cast("string")).otherwise(canon)
  }

  /** Registrable domain of a canonical (or raw) URL Column, by the
    * public-suffix-list algorithm over the frozen [[PslSnapshot]]:
    *  - the public suffix is the LONGEST matching rule (plain rules
    *    match their own labels; a wildcard rule `*.p` makes every
    *    single-label extension of `p` a public suffix; the implicit
    *    default rule `*` makes every bare TLD one),
    *  - an EXCEPTION rule beats every other match — the named domain
    *    itself is registrable (`www.ck`, `city.kawasaki.jp`),
    *  - the registrable domain is the public suffix plus one label.
    * A host that IS a public suffix (apex like `co.uk`, or a 1-label
    * host like `localhost`) is returned as-is — the lenient choice for
    * a dedup/cap key, where dropping the row would hide provenance.
    * NULL for non-http(s) input.
    *
    * Scale shape: one native Catalyst expression node
    * ([[graft.functions.RegistrableDomain]] — hash-set rule lookups,
    * O(labels) per row, single static call in the generated code) — no
    * join against a suffix table, no shuffle, stateless-streaming legal
    * (spec-asserted), and the enclosing stage stays inside whole-stage
    * codegen. The pure-Column spelling below is kept as the
    * differential REFERENCE implementation: it inlines the ~300-entry
    * rule arrays into every CASE arm, which overflows Janino's 64 KB
    * method limit — whole-stage codegen fails, Spark re-attempts the
    * ~1 s compile on EVERY execution, and the stage runs interpreted
    * (the per-row cost that would surface at cluster scale). UrlOpsSpec
    * asserts kernel == reference across the corpus and the adversarial
    * URL fixture.
    */
  def registrableDomain(url: Column): Column =
    graft.functions.RegistrableDomain.of(url)

  /** RFC 3986 reference resolution: the absolute http(s) URL `href`
    * denotes relative to `base` (the document's provenance URL), or NULL
    * when the base is not absolute http(s) or the reference resolves
    * outside http(s) (mailto:, javascript:, …). Handles absolute,
    * protocol-relative (`//h/p`), absolute-path, relative-path with
    * dot segments, query-only, and empty/fragment-only references; see
    * [[graft.functions.ResolveHref]] for the class-by-class contract.
    * One native-kernel call per row (stays in whole-stage codegen).
    */
  def resolveHref(base: Column, href: Column): Column =
    graft.functions.ResolveHref.of(base, href)

  /** Lowercased host of an http(s) URL with only the DEFAULT port
    * stripped (`:80` for http, `:443` for https — the [[canonicalUrl]]
    * convention) — the ORIGIN key a robots.txt policy is scoped to per
    * RFC 9309: each host serves its own /robots.txt, an apex policy
    * does NOT govern its subdomains, and a NON-default port is its own
    * origin (`h.com:8080` serves its own policy), so it stays in the
    * key. Schemes are deliberately POOLED (http and https reduce to
    * one key): RFC 9309 scope is per scheme+authority, but the two
    * schemes of one site serve the same policy in practice, and a
    * scheme-split key would double the rules table for no decision
    * change — documented approximation. NULL for non-http(s) input.
    * Contrast [[registrableDomain]], the PSL-reduced key for
    * dedup/cap/opt-out semantics where subdomains SHOULD pool.
    */
  def hostOf(url: Column): Column = {
    val scheme = lower(regexp_extract(url, partsRe, 1))
    val hostport = lower(regexp_extract(url, partsRe, 2))
    val host = when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(regexp_replace(hostport, ":443$", ""))
    when(scheme === "" || host === "", lit(null).cast("string")).otherwise(host)
  }

  /** Path-and-query of an http(s) URL ("/" for an empty path; the query
    * appended after `?` when present) — the request target robots rules
    * match against: RFC 9309 prefix matching is over path PLUS optional
    * query, so a `Disallow: /search?q=` rule must be able to match.
    * NULL for non-http(s) input.
    */
  def urlPath(url: Column): Column = {
    val scheme = regexp_extract(url, partsRe, 1)
    val raw = regexp_extract(url, partsRe, 3)
    val path = when(raw === "", lit("/")).otherwise(raw)
    val query = regexp_extract(url, partsRe, 4)
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** The pure-Column PSL walk — the differential reference for
    * [[registrableDomain]]'s kernel (see the codegen note there; do not
    * use in hot paths).
    */
  private[pipeline] def registrableDomainHof(url: Column): Column = {
    val host = regexp_replace(lower(regexp_extract(url, partsRe, 2)), ":[0-9]+$", "")
    val labels = split(host, "\\.")
    val n = size(labels)
    // last k labels, joined; only evaluated under an n >= k guard
    // (element_at on a short array THROWS under ANSI — And/CaseWhen
    // short-circuiting is load-bearing here)
    def sfx(k: Int): Column =
      concat_ws(".", (k to 1 by -1).map(i => element_at(labels, -i)): _*)
    def inSet(rules: Seq[String], c: Column): Column =
      array_contains(typedLit(rules), c)

    // public-suffix length in labels: longest matching rule, default 1
    val arms: Seq[Column] =
      PslSnapshot.exactByLen.toSeq.sortBy(_._1).map { case (k, rules) =>
        when(n >= k && inSet(rules, sfx(k)), lit(k)).otherwise(lit(0))
      } ++
        PslSnapshot.wildcardByLen.toSeq.sortBy(_._1).map { case (k, parents) =>
          when(n >= k + 1 && inSet(parents, sfx(k)), lit(k + 1)).otherwise(lit(0))
        }
    val pubLen = greatest((lit(1) +: arms): _*)

    // host is itself a suffix → kept as-is; else suffix + one label
    val maxPub = PslSnapshot.maxSuffixLabels
    val regular = (1 until maxPub)
      .foldLeft(when(n <= pubLen, host)) { (w, k) => w.when(pubLen === k, sfx(k + 1)) }
      .otherwise(sfx(maxPub + 1))

    // exception rules trump everything, longest first
    val withExc = PslSnapshot.exceptionsByLen.toSeq.sortBy(-_._1)
      .foldRight(regular) { case ((k, excs), acc) =>
        when(n >= k && inSet(excs, sfx(k)), sfx(k)).otherwise(acc)
      }
    when(host === "", lit(null).cast("string")).otherwise(withExc)
  }

  /** Deterministic content-blind per-doc draw for the domain cap — a
    * multiplicative hash of the doc id, masked to 1e6 BEFORE the
    * multiply so the arithmetic stays in range on BOTH engines (the
    * DuckDB twin has no silent 64-bit wraparound: `abs(id * prime)`
    * overflows BIGINT for ids above ~3.47e9 — real at web scale).
    */
  private[pipeline] def drawHash(idCol: String): String =
    s"(abs($idCol % 1000000L) * 2654435761L + 40503L) % 1000000L"

  /** Unique synthetic window-partition key for rows whose real key is
    * NULL: a NUL-prefixed doc id. No real canonical URL or registrable
    * domain can start with NUL (canonical URLs start with their scheme;
    * a NUL in a host would have to survive the regex host path AND
    * collide with the exact `"\u0000" + id` spelling — the prefix
    * exists so it cannot). Each NULL-key row sits alone in its window
    * partition instead of pooling into one straggler.
    */
  private def nullPk(realKey: Column, idCol: String): Column =
    coalesce(realKey, concat(lit("\u0000"), col(idCol).cast("string")))

  /** URL-keyed exact dedup: one keeper per canonical URL (min doc id —
    * the [[Dedup.exactDedup]] election keyed on provenance instead of
    * content; run it BEFORE content dedup, it is orders cheaper). Rows
    * whose URL fails to canonicalize keep themselves (NULL is not a
    * dedup key — unparseable provenance must not collapse rows), each
    * under its own synthetic partition key (no NULL straggler).
    * Output: (idCol, canon_url, keep_id, is_keeper).
    */
  def urlDedup(docs: DataFrame, idCol: String = "doc_id", urlCol: String = "url"): DataFrame = {
    val reserved = Seq("canon_url", "keep_id", "is_keeper", "__pk").filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"urlDedup: docs columns collide with output/internal names (rename them): ${reserved.mkString(", ")}")
    val w = Window.partitionBy(col("__pk")).orderBy(col(idCol))
    docs
      .withColumn("canon_url", canonicalUrl(col(urlCol)))
      .withColumn("__pk", nullPk(col("canon_url"), idCol))
      .withColumn("keep_id",
        first(col(idCol)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("canon_url"), col("keep_id"),
        (col(idCol) === col("keep_id")).as("is_keeper"))
  }

  /** Terminal resolution of a URL ALIAS map — redirect edges (3xx crawl
    * logs) and `rel=canonical` declarations both say "this key is really
    * that key", and both chain: A moved to B which moved to C, a
    * paginated variant canonicalizes to a page that itself redirects.
    * Collapsing on the RAW edge (one hop) leaves every chain interior as
    * its own dedup key, so the operator resolves each source to the END
    * of its chain — by POINTER DOUBLING: each round replaces every
    * pointer with its pointer's pointer (`p ← p∘p`, terminals fixed), so
    * a chain of length L resolves in ⌈log2 L⌉ self-joins, not L — the
    * O(log n) discipline of star contraction (the distributed arm of
    * [[graft.pipeline.Dedup.connectedComponents]]) applied to a
    * functional graph. `maxRounds` = 6 reaches 2^6 = 64 hops, four times
    * a browser's redirect ceiling.
    *
    * Convention (cycle-safe by construction, no cycle detection pass):
    * a source whose pointer still has an outgoing edge after the rounds
    * — a cycle member, a chain INTO a cycle, or a chain longer than the
    * bound — resolves to NULL: there is no terminal to collapse onto,
    * and a redirect loop's members must not collapse onto an arbitrary
    * cycle position. Self-edges are dropped up front (a self-redirect
    * is a degenerate 1-cycle). A source with several declared targets
    * takes the MINIMUM (deterministic; real alias maps are functional
    * and the collision is provenance noise).
    *
    * Scale shape — ADAPTIVE (the [[graft.pipeline.Dedup.connectedComponents]]
    * discipline, with its eager take-probe semantics): a pointer map at or
    * under `driverEdgeLimit` rows resolves on the driver (a memo-free walk,
    * ≤ limit × 2^maxRounds lookups, identical hop bound and labels) —
    * the distributed form costs `maxRounds` mostly-fixed-overhead
    * shuffle joins that dwarf a small map's actual work; above the
    * limit, the `maxRounds` self-joins run distributed, each round
    * persisted (the pageRank edge-persist lifecycle — the session's
    * CacheManager holds each until it is unpersisted), and the probe's
    * persisted projection is reused, not re-paid. Alias tables are
    * node-level fixed-width rows, orders below the document count.
    *
    * Output: (srcCol, terminal) — every non-self-edge source appears
    * exactly once; terminal NULL per the cycle convention above.
    */
  def resolveAliases(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxRounds: Int = 6,
      driverEdgeLimit: Int = 500000): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 16,
      s"resolveAliases: maxRounds must be in [1, 16], got $maxRounds")
    val maxHops = 1L << maxRounds
    val f0 = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__n"))
      .where(col("__s").isNotNull && col("__n").isNotNull && col("__s") =!= col("__n"))
      .groupBy("__s").agg(min("__n").as("__n"))
    // adaptive dispatch (the Dedup.connectedComponents discipline, eager
    // take-probe semantics): a small alias map resolves on the DRIVER —
    // the distributed form costs maxRounds shuffle joins of mostly
    // fixed overhead, ~3 s of pure scheduling for a 4k-row map — with
    // the identical hop bound; big maps take the log-round joins.
    if (driverEdgeLimit > 0) {
      val proj = f0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rows = proj.take(driverEdgeLimit + 1)
      if (rows.length <= driverEdgeLimit) {
        proj.unpersist()
        val nxt = rows.map(r => r.get(0) -> r.get(1)).toMap
        val out: Seq[org.apache.spark.sql.Row] = rows.toSeq.map { r =>
          var cur = r.get(1)
          var hops = 1L
          while (hops < maxHops && nxt.contains(cur)) { cur = nxt(cur); hops += 1 }
          org.apache.spark.sql.Row(r.get(0), if (nxt.contains(cur)) null else cur)
        }
        val srcType = edges.schema(srcCol).dataType
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(srcCol, srcType, nullable = true),
          org.apache.spark.sql.types.StructField("terminal", srcType, nullable = true)))
        return edges.sparkSession.createDataFrame(
          edges.sparkSession.sparkContext.parallelize(out, 1), schema)
      }
      // big map: the distributed path reads THROUGH the persisted
      // projection — the probe's scan is not re-paid
      distributedAliasWalk(proj, srcCol, maxRounds)
    } else {
      distributedAliasWalk(
        f0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        srcCol, maxRounds)
    }
  }

  /** The distributed pointer-doubling walk over a persisted (__s, __n)
    * pointer table — [[resolveAliases]]' big-map path.
    */
  private def distributedAliasWalk(
      base: DataFrame, srcCol: String, maxRounds: Int): DataFrame = {
    var p = base
    for (_ <- 1 to maxRounds) {
      p = p.as("a").join(p.as("b"), col("a.__n") === col("b.__s"), "left")
        .select(col("a.__s").as("__s"), coalesce(col("b.__n"), col("a.__n")).as("__n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val dom = base.select(col("__s").as("__d"))
    p.join(dom, p("__n") === dom("__d"), "left")
      .select(col("__s").as(srcCol),
        when(col("__d").isNull, col("__n")).as("terminal"))
  }

  /** [[urlDedup]] with an ALIAS map applied first: the dedup key is the
    * canonical URL REMAPPED through `aliases` — a (src, terminal) table
    * from [[resolveAliases]] over redirect and/or
    * [[graft.pipeline.LinkGraph.extractCanonical]] edges, keyed in the
    * same [[canonicalUrl]] key space. A page whose key is aliased dedups
    * under the terminal; NULL terminals (cycle members) and unlisted
    * keys keep their own key — an alias must never DISSOLVE identity,
    * only merge it. Election and NULL-provenance handling are exactly
    * [[urlDedup]]'s. Output: (idCol, canon_url, keep_id, is_keeper) —
    * `canon_url` is the post-remap key the election ran on.
    *
    * Scale shape: urlDedup's one window plus ONE equi-join against the
    * node-level alias map (broadcast-sized in practice; Zipfian key skew
    * lands on the window the same way urlDedup's does).
    */
  def urlDedupAliased(
      docs: DataFrame,
      aliases: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      aliasSrcCol: String = "src",
      aliasDstCol: String = "terminal"): DataFrame = {
    val reserved = Seq("canon_url", "keep_id", "is_keeper", "__pk", "__t")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"urlDedupAliased: docs columns collide with output/internal names (rename them): " +
        reserved.mkString(", "))
    // duplicate src keys would FAN OUT the left join (one document
    // dedups as two rows) — collapse to one deterministic terminal per
    // src at the boundary; a resolveAliases result is already unique,
    // so this is a no-op aggregation on well-formed input
    val amap = aliases
      .where(col(aliasDstCol).isNotNull)
      .groupBy(col(aliasSrcCol).as("canon_url"))
      .agg(min(col(aliasDstCol)).as("__t"))
    val w = Window.partitionBy(col("__pk")).orderBy(col(idCol))
    docs
      .withColumn("canon_url", canonicalUrl(col(urlCol)))
      .join(amap, Seq("canon_url"), "left")
      .withColumn("canon_url", coalesce(col("__t"), col("canon_url")))
      .withColumn("__pk", nullPk(col("canon_url"), idCol))
      .withColumn("keep_id",
        first(col(idCol)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(idCol), col("canon_url"), col("keep_id"),
        (col(idCol) === col("keep_id")).as("is_keeper"))
  }

  /** Per-domain document cap — the anti-spam stage: at most `cap`
    * documents survive per registrable domain, selected DETERMINISTICALLY
    * by a doc-id-keyed integer hash (a content-blind uniform draw, so
    * the kept subset is an unbiased sample of the domain, not its
    * first-crawled prefix) with doc id as the total tie-break.
    * NULL-domain rows are all kept with rank 0 — they carry no
    * provenance to cap on (and surface in [[domainStats]]'s NULL row
    * for auditing); each rides its own synthetic partition key, so an
    * unparseable-provenance-heavy corpus pays no hot NULL partition.
    * Output: (idCol, domain, rank, kept).
    *
    * Scale shape: one window keyed by domain over fixed-width (id, hash)
    * rows. Domains are Zipfian and a hot domain lands in one partition —
    * exactly the rows the cap is about to discard; when only the kept
    * set matters, use [[domainCapSurvivors]], whose rank filter prunes
    * each domain to its cap-smallest rows MAP-SIDE (WindowGroupLimit)
    * before the shuffle — the implemented skew remedy. This disposition
    * form must carry every row's verdict, so it cannot prune.
    */
  def domainCap(
      docs: DataFrame,
      cap: Long,
      idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    require(cap >= 1, s"domainCap: cap must be positive, got $cap")
    val reserved = Seq("domain", "rank", "kept", "__h", "__pk").filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"domainCap: docs columns collide with output/internal names (rename them): ${reserved.mkString(", ")}")
    val w = Window.partitionBy("__pk").orderBy(col("__h"), col(idCol))
    docs
      .withColumn("domain", registrableDomain(col(urlCol)))
      .withColumn("__h", expr(drawHash(idCol)))
      .withColumn("__pk", nullPk(col("domain"), idCol))
      .withColumn("rank",
        when(col("domain").isNull, lit(0L))
          .otherwise(row_number().over(w).cast("long")))
      .select(col(idCol), col("domain"), col("rank"),
        (col("domain").isNull || col("rank") <= cap).as("kept"))
  }

  /** SURVIVORS-ONLY form of [[domainCap]] — the form to compose into a
    * pipeline that only consumes the kept set: because the `rank <= cap`
    * predicate is a plain filter over a plain `row_number` here (not
    * folded into a disposition flag), Catalyst rewrites it to
    * WindowGroupLimit and prunes each domain to its cap-smallest rows
    * MAP-SIDE, before the shuffle — the hot-domain rows the cap is about
    * to discard never leave their input partitions (plan-asserted). Use
    * [[domainCap]] when the audit columns are the point; use this when
    * the survivors are. Same selection, spec-asserted.
    * Output: (idCol, domain) for every kept row (null-domain rows all
    * pass, as in [[domainCap]]).
    */
  def domainCapSurvivors(
      docs: DataFrame,
      cap: Long,
      idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    require(cap >= 1, s"domainCapSurvivors: cap must be positive, got $cap")
    val reserved = Seq("domain", "rank", "__h", "__pk").filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"domainCapSurvivors: docs columns collide with output/internal names " +
        s"(rename them): ${reserved.mkString(", ")}")
    // ONE window over the whole input (a where/union split would evaluate
    // the upstream pipeline twice — measured 4× on the composed ingest
    // chain): null-domain rows get the unique NUL-prefixed key, so each
    // sits alone in its window with rank 1 and always passes — the
    // uncapped contract without a second branch, and the rank<=cap
    // filter still rewrites to WindowGroupLimit over every partition
    val withDom = docs
      .withColumn("domain", registrableDomain(col(urlCol)))
      .withColumn("__h", expr(drawHash(idCol)))
      .withColumn("__pk", nullPk(col("domain"), idCol))
    val w = Window.partitionBy("__pk").orderBy(col("__h"), col(idCol))
    withDom
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= cap)
      .select(col(idCol), col("domain"))
  }

  /** URL TEMPLATE — the crawl-trap detection key: the request target
    * ([[urlPath]]: path + optional query) with the varying parts
    * collapsed — query VALUES dropped (`?page=7&sid=x1` → `?page=&sid=`),
    * applied to the QUERY PART ONLY (split at the first `?` — a path
    * segment containing `=` is content, not a parameter: `/doc/QWxhZGRpbg==`
    * must NOT pool with every other base64 id, or the template cap
    * silently drops genuinely distinct pages), then digit runs → `N`
    * globally — so a calendar trap (`/cal/2024/01/02`), a pagination
    * facet, and a numeric-id explosion pool under ONE key per host while
    * genuinely distinct pages keep distinct keys. Digit-run collapse only
    * — hex/uuid segment collapse is a documented caller extension, not
    * silently guessed here. Host-scoped by every consumer (the robots
    * origin-scope convention); NULL for unparseable URLs.
    */
  def urlTemplate(url: Column): Column = {
    val t = urlPath(url)
    val q = locate("?", t)
    val valueStripped = when(q > 0,
      concat(t.substr(lit(1), q - 1),
        regexp_replace(t.substr(q, length(t)), "=[^&]*", "=")))
      .otherwise(t)
    regexp_replace(valueStripped, "[0-9]+", "N")
  }

  /** The [[urlTemplate]] twin over a DuckDB request-target expression
    * `target` (path + optional query, as the oracles derive it).
    */
  def urlTemplateD(target: String): String = {
    val q = s"strpos($target, '?')"
    val stripped = s"CASE WHEN $q > 0 THEN substr($target, 1, $q - 1) || " +
      s"regexp_replace(substr($target, $q), '=[^&]*', '=', 'g') ELSE $target END"
    s"regexp_replace($stripped, '[0-9]+', 'N', 'g')"
  }

  /** CRAWL-TRAP observability card: per (host, template), how many
    * distinct candidate URLs instantiate the template and that count's
    * share of the host's candidates (ppm) — the signal a frontier
    * governor reads before a calendar/facet/session-id trap eats the
    * crawl budget (a healthy host spreads over many templates; a trap
    * is one template at a dominant share with a large count). NULL-host
    * candidates are excluded (they never dispatch — the
    * [[graft.pipeline.Sitemaps]] frontier contract).
    *
    * Scale shape: one (host, template)-keyed aggregation plus one
    * host-keyed window over the already-aggregated counts (rows =
    * distinct templates, not URLs).
    */
  def crawlTraps(
      cands: DataFrame,
      urlCol: String = "url",
      urlsUnique: Boolean = false): DataFrame = {
    // Opt-in contract guard (spark.graft.checkContracts=true): the
    // urlsUnique fast path is value-identical ONLY when cands is one
    // row per url (documented at the call sites, oracle-gated) — under
    // the conf a duplicate url RAISES instead of silently inflating
    // counts. Plan-invisible when off (the frontierPriority guard).
    val guarded =
      if (!urlsUnique || !cands.sparkSession.conf
          .get("spark.graft.checkContracts", "false").toBoolean) cands
      else cands
        .withColumn("__ckn", count(lit(1)).over(Window.partitionBy(col(urlCol))))
        .where(expr(s"assert_true(__ckn = 1, 'crawlTraps: urlsUnique requires " +
          s"one row per $urlCol and the input has duplicates " +
          s"(spark.graft.checkContracts)') is null"))
        .drop("__ckn")
    val t = guarded
      .select(hostOf(col(urlCol)).as("host"),
        urlTemplate(col(urlCol)).as("template"), col(urlCol).as("__u"))
      .where(col("host").isNotNull)
    // urlsUnique = the caller's DOCUMENTED contract that cands is one
    // row per url (every frontier channel is, post-anti-join/distinct):
    // countDistinct over unique urls IS count, and the plain count
    // drops the distinct-expand exchange from the aggregation
    // (guide §2.3 — aggregate before you shuffle, once not twice)
    val counted =
      if (urlsUnique) count(col("__u"))
      else countDistinct(col("__u"))
    t.groupBy("host", "template")
      .agg(counted.as("n_urls"))
      .withColumn("__tot",
        sum(col("n_urls")).over(Window.partitionBy("host")))
      .select(col("host"), col("template"), col("n_urls"),
        expr("CAST(n_urls * 1000000 DIV greatest(__tot, 1) AS BIGINT)").as("share_ppm"))
  }

  /** Per-template frontier cap — the trap GUARD: at most `cap`
    * candidate URLs survive per (host, template), kept in URL order
    * (deterministic; a frontier has no quality signal yet, so first-k
    * is the honest policy). NULL-host candidates pass uncapped on
    * unique synthetic keys (visible — the [[domainCapSurvivors]]
    * single-window discipline, and the rank<=cap filter rewrites to
    * WindowGroupLimit so hot templates prune map-side before the
    * shuffle). Output: (host, template, urlCol, slot).
    */
  def templateCapSurvivors(
      cands: DataFrame,
      cap: Long,
      urlCol: String = "url"): DataFrame = {
    require(cap >= 1, s"templateCapSurvivors: cap must be positive, got $cap")
    val reserved = Seq("host", "template", "slot", "__pk").filter(cands.columns.contains)
    require(reserved.isEmpty,
      s"templateCapSurvivors: cands columns collide with output/internal names " +
        s"(rename them): ${reserved.mkString(", ")}")
    val withT = cands
      .withColumn("host", hostOf(col(urlCol)))
      .withColumn("template", urlTemplate(col(urlCol)))
      .withColumn("__pk",
        when(col("host").isNull, concat(lit("\u0000"), col(urlCol)))
          .otherwise(concat(col("host"), lit(" "), col("template"))))
    val w = Window.partitionBy("__pk").orderBy(col(urlCol))
    withT
      .withColumn("slot", row_number().over(w).cast("long"))
      .where(col("slot") <= cap)
      .select(col("host"), col("template"), col(urlCol), col("slot"))
  }

  /** Build the crawled-set Bloom filter ONCE — the at-rest artifact the
    * bloom-pruned frontier anti-join consumes
    * ([[graft.pipeline.TextAnalysis.evalShingleBloom]]'s sizing,
    * silent-clamp guard and one-driver-read discipline, keyed on the
    * canonical URL's xxhash64). In production the filter is maintained
    * next to the crawled store and rebuilt on its cadence, not per
    * frontier pass.
    */
  def crawledUrlBloom(
      crawled: DataFrame,
      expectedUrls: Long,
      fpp: Double = 0.001,
      urlCol: String = "url"): Array[Byte] = {
    require(expectedUrls > 0, s"crawledUrlBloom: expectedUrls must be positive, got $expectedUrls")
    require(fpp > 0 && fpp < 1, s"crawledUrlBloom: fpp must be in (0, 1), got $fpp")
    val numBits = math.ceil(
      -expectedUrls * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val maxNumBits = crawled.sparkSession.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    require(numBits <= maxNumBits,
      s"crawledUrlBloom: sizing for expectedUrls=$expectedUrls at fpp=$fpp needs $numBits " +
        s"bits, above spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxNumBits — " +
        "BloomFilterAggregate would silently clamp and the false-positive rate would " +
        "exceed budget; raise that conf first (the evalShingleBloom guard)")
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bfAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(col(urlCol))),
        Literal(expectedUrls), Literal(numBits)).toAggregateExpression())
    crawled.where(col(urlCol).isNotNull).agg(bfAgg.as("__bf"))
      .head.getAs[Array[Byte]]("__bf")
  }

  /** BLOOM-PRUNED frontier freshness — output-identical to
    * `cands LEFT ANTI JOIN crawled` (the one-sided-error argument: the
    * filter has NO false negatives, so a candidate that MISSES is
    * definitely uncrawled and passes SCAN-SIDE without touching the
    * join; only the hit set — true collisions plus the fpp sliver —
    * pays the exact anti-join that resolves false positives). This
    * single-literal form is for BOUNDED crawled stores (≤ ~4.7 M keys
    * at fpp 0.001 under the default clamp — [[crawledUrlBloom]]'s guard
    * refuses past it); larger stores take the SAME shape through
    * [[freshViaBloomSharded]], whose shard family lifts the per-filter
    * clamp up to the executor-heap ceiling documented (and enforced) on
    * [[crawledUrlBloomShards]] (~10⁹ keys at default fpp).
    *
    * DELIBERATE two-branch split over `cands` (the documented exception
    * to the domainCapSurvivors single-pass rule): the upstream here is
    * a candidate SCAN, and reading it twice is exactly what buys not
    * shuffling the miss majority — a caller whose candidates are an
    * expensive derived pipeline persists them first.
    */
  def freshViaBloom(
      cands: DataFrame,
      crawled: DataFrame,
      bloomBytes: Array[Byte],
      urlCol: String = "url"): DataFrame = {
    require(bloomBytes != null && bloomBytes.nonEmpty, "freshViaBloom: empty filter")
    require(!cands.columns.contains("__hit"),
      "freshViaBloom: cands must not carry __hit (rename it)")
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val marked = cands.withColumn("__hit", GraftSqlBridge.column(
      BloomFilterMightContain(
        Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
        GraftSqlBridge.expression(xxhash64(col(urlCol))))))
    marked.where(!col("__hit")).drop("__hit")
      .unionByName(marked.where(col("__hit")).drop("__hit")
        .join(crawled.select(col(urlCol)).where(col(urlCol).isNotNull).distinct(),
          Seq(urlCol), "left_anti"))
  }

  /** Build the crawled-set Bloom filter as a HASH-PREFIX SHARD FAMILY —
    * the form whose capacity scales past [[crawledUrlBloom]]'s
    * single-filter ceiling: shard `k` holds exactly the URLs with
    * `pmod(xxhash64(url), K) = k`, each shard sized for `n/K` keys and
    * each independently under the engine clamp, so a 10⁹-URL crawled
    * store is K ≈ n/4.7M bounded filters instead of one refused
    * monolith. Built in ONE aggregation pass (one shuffle with K
    * groups); shards that received no URLs materialize as empty filters
    * (a miss — correct: nothing crawled hashes there). In production
    * the family is maintained next to the crawled store on its cadence
    * (the [[crawledUrlBloom]] at-rest discipline), and K is chosen once
    * from the store's size: `K ≥ expectedUrls / (maxNumBits·ln2²/ln(1/fpp))`.
    *
    * EXECUTOR-HEAP CEILING (the honest bound of the carrier): the probe
    * ships ALL K shards to EVERY executor as one task-binary reference
    * object ([[graft.functions.ShardedBloomMightContain]]), so resident
    * bytes per executor are the WHOLE family —
    * `expectedUrls · ln(1/fpp) / (8·ln²2)` (~1.8 bytes/key at fpp
    * 0.001), independent of K: sharding lifts the per-filter
    * `maxNumBits` clamp, NOT the total. That is ~1.8 GB at 10⁹ keys
    * and ~18 GB at 10¹⁰ — the family scales to ~10⁹ URLs at default
    * fpp under the default [[MaxShardFamilyBytes]] bound and REFUSES
    * loudly past it (the maxNumBits discipline lifted to the family).
    * For the next decade, either raise `maxTotalFilterBytes` knowingly
    * (executors sized for it, or a coarser fpp — the bound is per
    * executor, forever, for every query that carries the probe) or
    * keep membership at rest: shard the crawled store into a bucketed
    * table and probe only the candidate's co-partitioned bucket (the
    * band-store join shape), paying a shuffle instead of resident heap.
    */
  def crawledUrlBloomShards(
      crawled: DataFrame,
      expectedUrls: Long,
      numShards: Int,
      fpp: Double = 0.001,
      urlCol: String = "url",
      maxTotalFilterBytes: Long = MaxShardFamilyBytes): Array[Array[Byte]] = {
    require(numShards >= 1, s"crawledUrlBloomShards: numShards must be positive, got $numShards")
    require(expectedUrls > 0,
      s"crawledUrlBloomShards: expectedUrls must be positive, got $expectedUrls")
    require(fpp > 0 && fpp < 1, s"crawledUrlBloomShards: fpp must be in (0, 1), got $fpp")
    require(maxTotalFilterBytes >= 1,
      s"crawledUrlBloomShards: maxTotalFilterBytes must be positive, got $maxTotalFilterBytes")
    val perShard = math.max(1L, (expectedUrls + numShards - 1) / numShards)
    val numBits = math.ceil(
      -perShard * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val totalBytes = numShards.toLong * ((numBits + 7L) / 8L)
    require(totalBytes <= maxTotalFilterBytes,
      s"crawledUrlBloomShards: the shard family totals $totalBytes filter bytes " +
        s"($numShards shards × $numBits bits) for expectedUrls=$expectedUrls at fpp=$fpp, " +
        s"above maxTotalFilterBytes=$maxTotalFilterBytes — the probe ships the WHOLE " +
        "family resident into EVERY executor (sharding lifts the per-filter clamp, not " +
        "the total ≈ n·ln(1/fpp)/(8·ln²2) bytes); raise maxTotalFilterBytes only with " +
        "executor heap sized for it, coarsen fpp, or move membership to an at-rest " +
        "bucketed store probed via a co-partitioned join (the band-store shape)")
    val maxNumBits = crawled.sparkSession.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    require(numBits <= maxNumBits,
      s"crawledUrlBloomShards: sizing $perShard keys/shard at fpp=$fpp needs $numBits " +
        s"bits/shard, above spark.sql.optimizer.runtime.bloomFilter.maxNumBits=$maxNumBits " +
        "— BloomFilterAggregate would silently clamp; raise numShards (the whole point " +
        "of the shard family) or that conf")
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bfAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(col(urlCol))),
        Literal(perShard), Literal(numBits)).toAggregateExpression())
    val built = crawled.where(col(urlCol).isNotNull)
      .groupBy(pmod(xxhash64(col(urlCol)), lit(numShards.toLong)).as("__shard"))
      .agg(bfAgg.as("__bf"))
      .collect()
      .map(r => r.getLong(0).toInt -> r.getAs[Array[Byte]]("__bf"))
      .toMap
    Array.tabulate(numShards) { k =>
      built.getOrElse(k, {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter.create(perShard, numBits).writeTo(bos)
        bos.toByteArray
      })
    }
  }

  /** [[freshViaBloom]] over a shard family — output-identical to the
    * plain anti-join for ANY shard count (the per-shard one-sided-error
    * argument in [[graft.functions.ShardedBloomMightContain]]), probing
    * one shard per candidate scan-side. The shards ride the task binary
    * as one reference object, not K plan literals: a crawled set up to
    * ~10⁹ URLs (at default fpp — the [[crawledUrlBloomShards]]
    * executor-heap ceiling; the builder refuses past its bound)
    * broadcasts as K bounded filters, misses (the frontier majority)
    * never shuffle, and only the fpp sliver pays the exact anti-join;
    * the decade past that keeps membership at rest behind a
    * co-partitioned bucketed-store join instead of resident heap. Same
    * deliberate two-branch candidate split as [[freshViaBloom]].
    */
  def freshViaBloomSharded(
      cands: DataFrame,
      crawled: DataFrame,
      shardBytes: Array[Array[Byte]],
      urlCol: String = "url"): DataFrame = {
    require(shardBytes != null && shardBytes.nonEmpty && shardBytes.forall(_.nonEmpty),
      "freshViaBloomSharded: empty shard family")
    require(!cands.columns.contains("__hit"),
      "freshViaBloomSharded: cands must not carry __hit (rename it)")
    val marked = cands.withColumn("__hit",
      graft.functions.ShardedBloomMightContain.of(xxhash64(col(urlCol)), shardBytes))
    marked.where(!col("__hit")).drop("__hit")
      .unionByName(marked.where(col("__hit")).drop("__hit")
        .join(crawled.select(col(urlCol)).where(col(urlCol).isNotNull).distinct(),
          Seq(urlCol), "left_anti"))
  }

  /** Frontier freshness against an AT-REST bucketed membership store —
    * the carrier for the decade PAST [[crawledUrlBloomShards]]'s
    * executor-heap ceiling (>~10⁹ crawled URLs at default fpp):
    * membership lives as a managed parquet table BUCKETED on the url
    * key (write it with [[graft.operators.Layout.writeBucketed]] /
    * [[ShingleStage.stagedBucketed]], DISTINCT at write — the band-
    * store discipline), and freshness is ONE left anti join against it.
    * The store side reads its buckets with NO exchange (the bucketing
    * IS the join partitioning) and is never resident: each pass
    * shuffles ONLY the candidate batch — frontier-epoch-sized — while
    * the corpus-sized membership set stays on disk. The trade versus
    * the bloom forms is per-candidate join work instead of a scan-side
    * O(1) probe, which is why this is the TOP decade's carrier, not a
    * replacement: below the heap ceiling the resident filters win.
    *
    * `crawledStore` must be the bucketed table read (`spark.table`) —
    * no distinct here: anti-join semantics ignore right-side
    * duplicates, and a re-distinct would re-shuffle the store, undoing
    * exactly the exchange the bucketing removed (plan-guarded in the
    * spec: one exchange total, the candidate side).
    */
  def freshViaStore(
      cands: DataFrame,
      crawledStore: DataFrame,
      urlCol: String = "url"): DataFrame = {
    require(crawledStore.columns.contains(urlCol),
      s"freshViaStore: crawledStore must carry $urlCol (a bucketed membership table), " +
        s"got ${crawledStore.columns.mkString(", ")}")
    cands.join(
      crawledStore.select(col(urlCol)).where(col(urlCol).isNotNull),
      Seq(urlCol), "left_anti")
  }

  /** The APPEND step that closes the membership-store loop (the
    * `sigStoreAppend` discipline — every incremental store has one):
    * after a crawl epoch fetches its dispatched URLs, the NEW ones
    * (anti-joined against the current store, so recrawls never re-append
    * — without that, the store grows linearly in FETCHES instead of
    * URLs) append to the managed bucketed table `table`, and the next
    * epoch's [[freshViaStore]] probe sees them. `buckets` must match
    * the table's existing bucket spec; it defaults to the session's
    * shuffle partitions, the count every staged store is bucketed to
    * ([[ShingleStage.sessionBuckets]]). The engine refuses loudly on a
    * mismatch — a mis-bucketed append would silently break the
    * co-partitioned probe. Each append lands one file per bucket per
    * epoch; multi-file buckets keep the exchange-free probe but lose
    * the sorted-scan metadata, so long-running crawls compact the
    * store on their maintenance cadence (rewrite sorted — the
    * [[crawledUrlBloom]] at-rest rebuild discipline).
    *
    * SINGLE WRITER per table (ADVICE r20): the read-anti-join-append is
    * not atomic — two concurrent epoch appends would both anti-join the
    * pre-append snapshot and re-append the same URLs (defeating the
    * grows-in-URLs-not-fetches invariant), and a mid-write failure can
    * leave partial bucket files. Nothing in this API enforces it; the
    * crawl loop's epoch cadence is the serialization point.
    */
  def crawledStoreAppend(newlyCrawled: DataFrame, table: String)(
      buckets: Int = ShingleStage.sessionBuckets(newlyCrawled.sparkSession),
      urlCol: String = "url"): Unit = {
    require(buckets >= 1, s"crawledStoreAppend: buckets must be positive, got $buckets")
    val spark = newlyCrawled.sparkSession
    newlyCrawled.select(col(urlCol)).where(col(urlCol).isNotNull).distinct()
      .join(spark.table(table), Seq(urlCol), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
      .bucketBy(buckets, urlCol).sortBy(urlCol)
      .saveAsTable(table)
  }

  /** RANK-WEIGHTED domain cap — [[domainCap]] with the per-domain budget
    * scaled by a centrality prior instead of one flat number: high-rank
    * domains (in the [[LinkGraph.pageRankPpm]] sense, or any (domain,
    * rank_ppm) quality table) keep proportionally more documents, spammy
    * long-tail domains proportionally fewer. This is how crawl pipelines
    * actually consume a link-graph rank (Common Crawl publishes
    * per-domain centrality precisely so downstream corpus builds can
    * weight by it).
    *
    * cap(domain) = clamp(baseCap * rank_ppm DIV 1e6, [1, maxCap]);
    * domains absent from `ranks` default to `defaultRankPpm` (use the
    * PageRank base, 1e6 - damping — the rank an unlinked node would
    * have). Selection within a domain is the same deterministic
    * content-blind draw as [[domainCap]]; NULL-domain rows are all kept
    * with rank 0 under unique synthetic keys (no straggler partition).
    * Output: (idCol, domain, cap, rank, kept).
    *
    * Scale shape: one left join of the corpus's fixed-width (id, domain,
    * hash) projection against the domain-level rank table (rank tables
    * are ~1e8 rows at web scale — keyed shuffle join territory, AQE's
    * call) plus the same single window as [[domainCap]].
    */
  def domainCapByRank(
      docs: DataFrame,
      ranks: DataFrame,
      baseCap: Long,
      maxCap: Long,
      defaultRankPpm: Long = 150000L,
      idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    require(baseCap >= 1, s"domainCapByRank: baseCap must be positive, got $baseCap")
    require(maxCap >= 1, s"domainCapByRank: maxCap must be positive, got $maxCap")
    val missing = Seq("domain", "rank_ppm").filterNot(ranks.columns.contains)
    require(missing.isEmpty,
      s"domainCapByRank: ranks must carry (domain, rank_ppm); missing ${missing.mkString(", ")}")
    val reserved = Seq("domain", "cap", "rank", "kept", "__h", "__pk", "__rp")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"domainCapByRank: docs columns collide with output/internal names " +
        s"(rename them): ${reserved.mkString(", ")}")
    val w = Window.partitionBy("__pk").orderBy(col("__h"), col(idCol))
    // pre-aggregate the rank table to ONE row per domain: a rank table
    // with duplicate domain rows would otherwise fan each document out
    // through the left join — duplicate receipts and inflated row_number
    // ranks (caps silently under-fill). max() is the deterministic pick
    // (and the generous one: ties go to the higher budget).
    val ranksByDomain = ranks
      .select(col("domain"), col("rank_ppm"))
      .groupBy("domain").agg(max(col("rank_ppm")).as("__rp"))
    docs
      .withColumn("domain", registrableDomain(col(urlCol)))
      .withColumn("__h", expr(drawHash(idCol)))
      .withColumn("__pk", nullPk(col("domain"), idCol))
      .join(ranksByDomain, Seq("domain"), "left")
      .withColumn("cap",
        greatest(lit(1L), least(lit(maxCap),
          expr(s"($baseCap * coalesce(__rp, ${defaultRankPpm}L)) DIV 1000000L"))))
      .withColumn("rank",
        when(col("domain").isNull, lit(0L))
          .otherwise(row_number().over(w).cast("long")))
      .select(col(idCol), col("domain"), col("cap"), col("rank"),
        (col("domain").isNull || col("rank") <= col("cap")).as("kept"))
  }

  /** DOMAIN OPT-OUT resolution — the provenance half of
    * right-to-be-forgotten: given an opt-out registry (one `domain` per
    * row — robots policies, licensing takedowns, data-subject
    * requests), return the (idCol, domain) of every document whose
    * provenance falls under an opted-out domain. Matching is on the
    * REGISTRABLE domain, so opting out `example.com` covers
    * `www.example.com` and every other subdomain — the semantics
    * registries actually intend — while `alice.github.io` (a private-
    * suffix site) opts out only that user's site, not the platform.
    * Feed the output into [[Packing.purgePropagate]] to find the packed
    * chunks that must rebuild, or anti-join it to excise pre-packing.
    *
    * Scale shape: one scan-side domain projection + one semi-join
    * against the registry. Registries range from config-sized to
    * millions of rows (a national DSR registry), so the join strategy
    * is AQE's call — broadcast when small, keyed shuffle when not.
    */
  def domainOptOut(
      docs: DataFrame,
      optOut: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url"): DataFrame = {
    require(optOut.columns.contains("domain"),
      s"domainOptOut: optOut must carry 'domain', got ${optOut.columns.mkString(", ")}")
    docs
      .select(col(idCol), registrableDomain(col(urlCol)).as("domain"))
      .join(optOut.select("domain").distinct(), Seq("domain"), "left_semi")
      .select(col(idCol), col("domain"))
  }

  /** Per-domain composition report — the data card: document count,
    * character mass, and corpus share in ppm (by characters, the proxy
    * for token mass that needs no tokenizer pass). NULL-domain rows
    * aggregate into their own row so unparseable provenance is VISIBLE,
    * not silently dropped.
    */
  def domainStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      urlCol: String = "url",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(
      registrableDomain(col(urlCol)).as("domain"),
      length(col(textCol)).cast("long").as("__n"))
    val agg = base.groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_chars"))
    // corpus total via a global window over the DOMAIN-level rows — the
    // aggregate runs ONCE (a crossJoin against agg.agg(sum) re-executed
    // the whole scan+PSL pipeline a second time: no common-subplan
    // reuse; measured 1.7 → 0.9 s at sf0.1). The single window
    // partition holds one row per DOMAIN (web corpora: ~1e7 rows of
    // three longs), not per document — bounded, unlike a per-doc global
    // window
    agg.select(col("domain"), col("n_docs"), col("n_chars"),
      expr("n_chars * 1000000 DIV greatest(sum(n_chars) over (), 1)").as("share_ppm"))
  }

  // ---------------------------------------------------------------------
  // DuckDB twins (generated from the SAME constants)
  // ---------------------------------------------------------------------

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"
  private val partsReD = sqlLit(partsRe)

  private def isTrackingD(p: String, strip: Seq[String]): String =
    strip.map(t => s"$p = ${sqlLit(t)} OR starts_with($p, ${sqlLit(t + "=")})")
      .mkString("(", " OR ", ")")

  /** The [[drawHash]] twin over a column expression `id`. */
  def drawHashD(id: String): String =
    s"(abs($id % 1000000) * 2654435761 + 40503) % 1000000"

  /** Canonical-URL expression over a column expression `u`. */
  def canonicalUrlD(u: String, stripParams: Seq[String] = trackingParams): String = {
    val scheme = s"lower(regexp_extract($u, $partsReD, 1))"
    val hostport = s"lower(regexp_extract($u, $partsReD, 2))"
    val host = s"CASE WHEN $scheme = 'http' THEN regexp_replace($hostport, ':80$$', '') " +
      s"ELSE regexp_replace($hostport, ':443$$', '') END"
    val rawPath = s"regexp_extract($u, $partsReD, 3)"
    val path =
      s"""list_transform([CASE WHEN $rawPath = '' THEN '/'
         |  ELSE regexp_replace($rawPath, '/+$$', '') END],
         |  p0 -> CASE WHEN p0 = '' THEN '/' ELSE p0 END)[1]""".stripMargin.replace("\n", " ")
    val rawQuery = s"regexp_extract($u, $partsReD, 4)"
    // coalesce: DuckDB's array_to_string(list_sort([]), …) is NULL, and a
    // NULL query must read as "no params", not poison the whole concat
    val query =
      s"""coalesce(array_to_string(list_sort(list_filter(string_split($rawQuery, '&'),
         |  p1 -> p1 <> '' AND NOT ${isTrackingD("p1", stripParams)})), '&'), '')""".stripMargin.replace("\n", " ")
    s"""CASE WHEN $scheme = '' THEN NULL ELSE
       |  $scheme || '://' || ($host) || ($path) ||
       |  list_transform([$query], q0 -> CASE WHEN q0 = '' THEN '' ELSE '?' || q0 END)[1]
       |END""".stripMargin.replace("\n", " ")
  }

  /** Registrable-domain expression over a column expression `u` — the
    * PSL algorithm generated from the same [[PslSnapshot]] constants.
    */
  def registrableDomainD(u: String): String = {
    val host = s"regexp_replace(lower(regexp_extract($u, $partsReD, 2)), ':[0-9]+$$', '')"
    def lst(xs: Seq[String]) = xs.map(sqlLit).mkString("[", ", ", "]")
    def sfxD(k: Int) = s"array_to_string(ls[-$k:], '.')"
    val arms =
      PslSnapshot.exactByLen.toSeq.sortBy(_._1).map { case (k, rules) =>
        s"CASE WHEN len(ls) >= $k AND list_contains(${lst(rules)}, ${sfxD(k)}) THEN $k ELSE 0 END"
      } ++
        PslSnapshot.wildcardByLen.toSeq.sortBy(_._1).map { case (k, parents) =>
          s"CASE WHEN len(ls) >= ${k + 1} AND list_contains(${lst(parents)}, ${sfxD(k)}) THEN ${k + 1} ELSE 0 END"
        }
    val publen = s"greatest(1, ${arms.mkString(", ")})"
    val excArms = PslSnapshot.exceptionsByLen.toSeq.sortBy(-_._1).map { case (k, excs) =>
      s"WHEN len(ls) >= $k AND list_contains(${lst(excs)}, ${sfxD(k)}) THEN ${sfxD(k)}"
    }.mkString(" ")
    s"""list_transform([string_split($host, '.')], ls ->
       |  list_transform([$publen], pl ->
       |    CASE WHEN array_to_string(ls, '.') = '' THEN NULL
       |         $excArms
       |         WHEN len(ls) <= pl THEN array_to_string(ls, '.')
       |         ELSE array_to_string(ls[len(ls)-pl:], '.') END)[1])[1]""".stripMargin.replace("\n", " ")
  }
}
