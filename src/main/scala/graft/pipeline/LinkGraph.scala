package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Hyperlink graph operators — the quality-signal axis of a web corpus.
  *
  * Crawl pipelines weight and filter domains by link-graph centrality
  * (Common Crawl publishes per-domain harmonic centrality and PageRank
  * for exactly this; CCNet/RefinedWeb-style builds consume such ranks
  * as a quality prior). This file provides the three stages:
  *
  *  1. [[extractLinks]] — scan-side href extraction from raw markup
  *     (regex over the anchor-tag shape; no shuffle, stateless-
  *     streaming legal),
  *  2. [[linkDomainEdges]] — the registrable-domain edge list
  *     (provenance domain → target domain) with link counts, one
  *     aggregation,
  *  3. [[pageRankPpm]] — fixed-iteration PageRank in integer ppm
  *     arithmetic (deterministic across engines — no float drift; the
  *     repo's *_ppm convention).
  *
  * Raw markup hrefs are majority RELATIVE; [[resolveLinks]] is the
  * RFC 3986 base-URL resolution pass ([[UrlOps.resolveHref]], one
  * native-kernel call per row) that turns them absolute against the
  * document's provenance URL — protocol-relative `//host/…` links are
  * the ones that create CROSS-domain edges from non-absolute markup,
  * and path-relative links resolve to the provenance host (self-edges
  * the domain graph then drops, visibly). Absolute http(s) hrefs
  * resolve WITHOUT the base (RFC 3986 §5.2.2 — bad-provenance docs
  * keep their absolute edges); relative references under a non-http(s)
  * base, and non-http(s) targets, resolve to NULL and drop out of the
  * edge list, visibly.
  *
  * Scale shape: extraction is a scan-side projection; the edge list is
  * one groupBy keyed by fixed-width (src, dst) domain strings (the
  * document text never rides along); PageRank iterates `iters` times,
  * each iteration ONE broadcast-or-shuffle join of the fixed-width
  * rank table against the persisted out-degree-annotated edge list plus
  * one aggregation — the edge list is persisted once and reused, so the
  * corpus-sized extraction never re-runs. Edges and ranks are
  * domain-level (|nodes| ≈ 1e8 at web scale, fixed-width rows), far
  * below the document count.
  */
object LinkGraph {
  /** Anchor hrefs in `htmlCol`, exploded one row per link: (idCol,
    * href). Double- or single-quoted attribute values; the extracted
    * value is HTML-entity-DECODED ([[graft.functions.HtmlUnescape]]:
    * the five XML named references + numeric refs, single pass) —
    * spec-conformant markup entity-encodes `&` in every attribute
    * value, so without the decode `a&amp;b` and `a&b` spellings of one
    * URL would split link-graph nodes and dedup keys; entity-free
    * hrefs (the raw-`&` majority of real markup) pass through
    * byte-identical on the kernel's zero-copy fast path.
    */
  def extractLinks(
      docs: DataFrame,
      idCol: String = "doc_id",
      htmlCol: String = "html",
      keepCols: Seq[String] = Nil): DataFrame = {
    val hrefs = expr(
      s"""concat(
         |  regexp_extract_all($htmlCol, '(?i)<a\\\\b[^>]*?href\\\\s*=\\\\s*"([^"]*)"', 1),
         |  regexp_extract_all($htmlCol, "(?i)<a\\\\b[^>]*?href\\\\s*=\\\\s*'([^']*)'", 1))""".stripMargin)
    docs.select((col(idCol) +: keepCols.map(col)) :+ explode(hrefs).as("href"): _*)
      .withColumn("href", graft.functions.HtmlUnescape.of(col("href")))
  }

  /** RFC 3986 resolution over an extracted link table: rewrites
    * `hrefCol` to the absolute http(s) URL it denotes relative to the
    * row's provenance URL (`urlCol`), NULL when unresolvable — the pass
    * between [[extractLinks]]/[[extractAnchors]] and the domain-level
    * consumers. Scan-side, stateless-streaming legal.
    */
  def resolveLinks(
      links: DataFrame,
      urlCol: String = "url",
      hrefCol: String = "href"): DataFrame =
    links.withColumn(hrefCol, UrlOps.resolveHref(col(urlCol), col(hrefCol)))

  /** Anchor (href, text) pairs, exploded one row per link: (idCol, href,
    * anchor). The anchor text is the run up to the first nested tag or
    * the closing `</a>` — nested-markup anchors truncate at the inner
    * tag, the same documented approximation class as [[extractLinks]]'
    * comment handling. Both the href and the text are HTML-entity-
    * decoded ([[extractLinks]]' contract — an `&amp;` in anchor text
    * must roll up with its raw-`&` spelling), callers trim.
    *
    * Anchor text is the classic cheap relevance signal: the WEB's own
    * description of the target page — retrieval training mines
    * (anchor text → target) pairs, and quality pipelines use anchor
    * vocabulary as a domain prior.
    */
  def extractAnchors(
      docs: DataFrame,
      idCol: String = "doc_id",
      htmlCol: String = "html",
      keepCols: Seq[String] = Nil): DataFrame = {
    // one SQL expression per attribute quote style: the regex sits in the
    // OTHER quote's SQL string literal, and the two capture groups zip
    // into named structs
    def pairs(sqlQuote: Char, attrQuote: Char): String = {
      val pat = s"(?i)<a\\\\b[^>]*?href\\\\s*=\\\\s*$attrQuote([^$attrQuote]*)$attrQuote[^>]*>([^<]*)"
      val p = s"$sqlQuote$pat$sqlQuote"
      s"zip_with(regexp_extract_all($htmlCol, $p, 1), " +
        s"regexp_extract_all($htmlCol, $p, 2), " +
        "(h, t) -> struct(h as href, t as anchor))"
    }
    val zipped = expr(s"concat(${pairs('\'', '"')}, ${pairs('"', '\'')})")
    docs
      .select((col(idCol) +: keepCols.map(col)) :+ explode(zipped).as("__a"): _*)
      .withColumn("href", graft.functions.HtmlUnescape.of(col("__a.href")))
      .withColumn("anchor", graft.functions.HtmlUnescape.of(col("__a.anchor")))
      .drop("__a")
  }

  /** `<link rel="canonical">` harvest — the page's OWN declaration of
    * its preferred URL, the strongest URL-identity signal a web corpus
    * carries (pagination variants, tracking-parameter mirrors and
    * cross-host syndication all point at one canonical target; every
    * production crawl pipeline collapses on it before URL dedup).
    * Per document: the FIRST canonical link tag's href, entity-decoded
    * ([[extractLinks]]' contract), RFC 3986-resolved against the page's
    * provenance URL, then [[UrlOps.canonicalUrl]]-normalized so the
    * declared target and the provenance key live in one key space.
    * NULL when the page declares none, the href is empty, or the target
    * does not resolve to http(s). Attribute ORDER is free (`rel` before
    * or after `href`): the tag is matched first, the href extracted from
    * the matched tag. Both attribute quote styles. Cross-host targets
    * are KEPT — canonical is the page author's signal and syndication →
    * origin is its core use; a consumer wanting same-host-only filters
    * on `hostOf`. Scan-side, stateless-streaming legal.
    *
    * Output: (idCol, [keep...], canonical_url). Feed the (page-key →
    * canonical-key) pairs into [[UrlOps.resolveAliases]] together with
    * redirect edges, and the terminal map into [[UrlOps.urlDedupAliased]].
    */
  def extractCanonical(
      docs: DataFrame,
      idCol: String = "doc_id",
      htmlCol: String = "html",
      urlCol: String = "url",
      keepCols: Seq[String] = Nil): DataFrame = {
    val tagRe = "(?is)<link\\b[^>]*?\\brel\\s*=\\s*[\"']canonical[\"'][^>]*>"
    val hrefDq = "(?is)\\bhref\\s*=\\s*\"([^\"]*)\""
    val hrefSq = "(?is)\\bhref\\s*=\\s*'([^']*)'"
    val tag = regexp_extract(col(htmlCol), tagRe, 0)
    val dq = regexp_extract(tag, hrefDq, 1)
    val sq = regexp_extract(tag, hrefSq, 1)
    val rawHref = when(dq =!= "", dq).when(sq =!= "", sq)
    docs.select((col(idCol) +: keepCols.map(col)) :+
      UrlOps.canonicalUrl(UrlOps.resolveHref(col(urlCol),
        graft.functions.HtmlUnescape.of(rawHref))).as("canonical_url"): _*)
  }

  /** The (target domain, anchor text) harvest — one aggregation over the
    * extracted anchors: how the web describes each domain, with counts.
    * Links without a registrable target domain (relative, non-http)
    * drop; text is trimmed. Output (dst_domain, anchor_text, n).
    */
  def anchorTextStats(
      anchors: DataFrame,
      hrefCol: String = "href",
      textCol: String = "anchor"): DataFrame =
    anchors
      .select(UrlOps.registrableDomain(col(hrefCol)).as("dst_domain"),
        trim(col(textCol)).as("anchor_text"))
      .where(col("dst_domain").isNotNull && col("anchor_text") =!= "")
      .groupBy("dst_domain", "anchor_text")
      .agg(count(lit(1)).as("n"))

  /** Registrable-domain edge list from per-document links: one row per
    * (src_domain, dst_domain) with the link count. `links` carries the
    * document's own provenance URL (`urlCol`) and the extracted target
    * (`hrefCol`). Rows where either side has no registrable domain
    * (non-http(s) provenance, relative links) drop out — the scoping
    * is visible in [[extractLinks]]'s output, not silently here.
    * Self-edges (intra-domain navigation) are dropped: they dominate
    * raw link counts and carry no cross-domain endorsement signal (the
    * PageRank convention for domain graphs).
    */
  def linkDomainEdges(
      links: DataFrame,
      urlCol: String = "url",
      hrefCol: String = "href"): DataFrame = {
    links
      .select(
        UrlOps.registrableDomain(col(urlCol)).as("src"),
        UrlOps.registrableDomain(col(hrefCol)).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Fixed-iteration PageRank over a (src, dst) edge list, integer ppm.
    *
    * The unnormalized convention: every node starts at 1 000 000 ppm
    * and updates as
    *   rank = (1e6 - damping) + (damping * Σ_{src→node} rank(src) DIV
    *          out_deg(src)) DIV 1e6
    * so magnitudes stay ~1e6 regardless of node count (a 1/N start
    * underflows integer ppm at web scale). All arithmetic is integer
    * (DIV) — bit-identical across engines, no float accumulation-order
    * drift; iterations are FIXED (default 5), not convergence-tested —
    * the deterministic choice an oracle can unroll. Dangling nodes (no
    * out-links) leak their mass — the simple variant; Common Crawl's
    * published ranks make the same class of choice. Nodes outside the
    * edge list don't appear; their rank is the base (1e6 - damping) by
    * definition, and callers needing the full universe left-join this
    * output and coalesce to that base.
    *
    * Distinct edges: parallel links between the same pair count once
    * (the domain-graph convention — one domain's repeated links are
    * self-promotion, not N endorsements).
    *
    * Scale shape: the out-degree-annotated DISTINCT edge list persists
    * once (fixed-width domain pairs + one long) and every iteration is
    * one equi-join of the rank table (|nodes| rows, fixed width)
    * against it plus one aggregation — 2 exchanges per iteration,
    * `iters` bounded. The rank table is orders of magnitude smaller
    * than the corpus; at 1e8 domains it is a few GB, broadcast-or-
    * shuffle joinable on any real cluster.
    */
  def pageRankPpm(
      edges: DataFrame,
      iters: Int = 5,
      dampingPpm: Long = 850000L,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    pageRank(edges, iters, dampingPpm, srcCol, dstCol)._1

  /** [[pageRankPpm]] with its defaults, handed to `use`; the persisted
    * edge and node frames are released when `use` returns — for a caller
    * that materializes the ranks, like the staged rank store.
    */
  def withPageRankPpm[T](edges: DataFrame)(use: DataFrame => T): T = {
    val (ranks, cached) = pageRank(edges, 5, 850000L, "src", "dst")
    try use(ranks) finally cached.foreach(_.unpersist())
  }

  /** The ranks, and the frames they read from the cache. */
  private def pageRank(
      edges: DataFrame,
      iters: Int,
      dampingPpm: Long,
      srcCol: String,
      dstCol: String): (DataFrame, Seq[DataFrame]) = {
    require(iters >= 1 && iters <= 50, s"pageRankPpm: iters must be in [1, 50], got $iters")
    require(dampingPpm >= 0L && dampingPpm <= 1000000L,
      s"pageRankPpm: dampingPpm must be in [0, 1e6], got $dampingPpm")
    val base = 1000000L - dampingPpm
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    // the frame every iteration re-reads: persist so the upstream (often
    // a corpus-wide extraction) runs once. Out-degree
    // is annotated by a window over src — not groupBy+self-join, which
    // re-ran the extraction subtree and left eo partitioned on (src, dst)
    // so every iteration's src-keyed join re-exchanged the WHOLE edge
    // list. The window's one exchange leaves eo AT REST partitioned on
    // src: iterations then exchange only the |nodes|-sized rank table
    // (guide §2.4 — establish the partitioning once).
    val eo = e
      .withColumn("__od", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // derived from the persisted eo (not e) so the corpus-sized
    // extraction upstream materializes exactly once
    val nodes = eo.select(col("src").as("node"))
      .unionByName(eo.select(col("dst").as("node")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)

    var ranks = nodes.select(col("node"), lit(1000000L).as("rank_ppm"))
    for (_ <- 1 to iters) {
      val contrib = eo
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank_ppm DIV __od")).as("__s"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"${base}L + ($dampingPpm * coalesce(__s, 0L)) DIV 1000000L")
            .as("rank_ppm"))
    }
    (ranks, Seq(eo, nodes))
  }

  /** BOUNDED-RADIUS HARMONIC CENTRALITY over a (src, dst) edge list,
    * integer ppm: harmonic_ppm(v) = Σ_{u → v within `radius`} 1e6 DIV
    * d(u, v) — the second centrality prior Common Crawl publishes next
    * to PageRank, and the reason to carry both: a link farm inflates
    * PageRank with a few high-rank endorsements but rarely manufactures
    * the BROAD shallow in-neighborhood harmonic centrality measures
    * (every reachable-from node counts, discounted by distance), so
    * domains gaming one prior rarely game the other.
    *
    * Semantics: directed distances TOWARD v (in-centrality, the ranking
    * convention), self-distances excluded, radius-bounded (the classic
    * truncated variant — an unbounded sum needs full APSP; bounded
    * radius keeps the distance table finite and the contribution tail
    * 1/d is negligible past a few hops anyway). All arithmetic integer
    * DIV — bit-identical across engines, unrollable by an oracle.
    *
    * Scale shape: BFS layering as `radius - 1` rounds of (frontier ⋈
    * edges → distinct → anti-join reached), every frame fixed-width
    * (node, node, d) triples; the reached table persists per round (the
    * pageRank edge-persist discipline). The EXACT bounded-distance pair
    * table grows as Σ_k |in-neighborhood_k| — degree^radius in the
    * worst case — which is fine for domain graphs at small radius
    * (the default 3) but web-scale beyond it; the production swap at
    * that point is HyperBall-style neighborhood SKETCHES (per-node HLL
    * registers max-merged per round — same join shape, fixed width per
    * node), which trades exactness away and therefore lives behind a
    * different operator when needed. Output: (node, harmonic_ppm) for
    * every node of the edge list; never-reached nodes report 0.
    */
  def harmonicPpm(
      edges: DataFrame,
      radius: Int = 3,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(radius >= 1 && radius <= 6,
      s"harmonicPpm: radius must be in [1, 6] (the pair table grows as degree^radius), got $radius")
    // persisted AT REST partitioned on u — the side every BFS round
    // equi-joins on (frontier.v = e.u), so rounds re-exchange only the
    // frontier, never the full edge list (guide §2.4; the distinct's
    // (u, v) layout satisfied no round's join key)
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .distinct()
    var reached = e.withColumn("d", lit(1))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var frontier: DataFrame = e
    for (k <- 2 to radius) {
      val next = frontier.select(col("u"), col("v").as("__m"))
        .join(e.select(col("u").as("__m"), col("v")), "__m")
        .select("u", "v")
        .where(col("u") =!= col("v"))
        .distinct()
        .join(reached.select("u", "v"), Seq("u", "v"), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      reached = reached.unionByName(next.withColumn("d", lit(k)))
      frontier = next
    }
    val harm = reached
      .groupBy(col("v").as("node"))
      .agg(sum(expr("1000000 DIV d")).as("__h"))
    nodes.join(harm, Seq("node"), "left")
      .select(col("node"), coalesce(col("__h"), lit(0L)).as("harmonic_ppm"))
  }

  /** KMV node hash: the first 15 hex chars of md5(node) as a 60-bit
    * nonnegative long — deterministic and byte-identical in DuckDB
    * (`CAST('0x'||prefix AS BIGINT)`), so the sketch below is
    * oracle-replayable. 2^60 is the hash space the estimator divides.
    */
  private[pipeline] def kmvHashS(node: String): String =
    s"cast(conv(substring(md5($node), 1, 15), 16, 10) as bigint)"
  private[graft] val KmvSpace: Long = 1L << 60

  /** SKETCHED bounded-radius harmonic centrality — the web-scale form
    * [[harmonicPpm]]'s scaladoc names: the exact in-ball pair table
    * grows as degree^radius, so at unbounded scale each node carries a
    * FIXED-WIDTH neighborhood sketch instead (HyperBall's plan shape,
    * Boldi & Vigna 2013, with a K-MINIMUM-VALUES sketch in place of
    * HyperLogLog registers — KMV merges are min-unions over integer
    * hashes, so the whole computation stays integer-exact and
    * deterministic, where HLL's float harmonic-mean estimator would
    * drift cross-engine).
    *
    * Per round r: B_r(v) = B_{r-1}(v) ∪ ⋃_{u→v} B_{r-1}(u), carried as
    * each ball's K smallest distinct node hashes — at most K rows per
    * node cross any wire, whatever the in-degree. Ball-size estimate:
    * EXACT count while the ball holds fewer than K hashes; else the KMV
    * estimator (K-1) · (2^60 DIV kth-min) (integer DIV — documented
    * truncation, deterministic). Harmonic mass:
    *   Σ_r (est_r - est_{r-1}) · (1e6 DIV r)
    * — per-distance counts times the same truncated reciprocals the
    * exact form sums, so BELOW K the sketch equals [[harmonicPpm]]
    * EXACTLY (spec-asserted), and the estimator is monotone (hash sets
    * only grow, kth-mins only shrink), so contributions never go
    * negative.
    *
    * Scale shape: each round is one equi-join of the edge list against
    * the ≤K-rows-per-node state, one distinct, and one per-node top-K
    * (a plain row_number filter — WindowGroupLimit prunes map-side).
    * State is K longs per node; rounds are `radius`-bounded. Because
    * the per-round frame is FIXED-WIDTH, radius here is LINEAR rounds,
    * not the exact form's degree^radius pair blowup — this arm accepts
    * radius past [[harmonicPpm]]'s [1, 6] ball bound (up to 32: past
    * the web's effective diameter every ball has saturated and rounds
    * add nothing but plan depth; 1e6 DIV d also truncates to 0 there
    * in ppm terms only past d=1e6, but the unrolled per-radius join
    * chain — here and in the DuckDB twin — is the practical bound).
    * Output: (node, harmonic_sketch_ppm).
    */
  def harmonicPpmSketch(
      edges: DataFrame,
      radius: Int = 3,
      k: Int = 16,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(radius >= 1 && radius <= 32,
      s"harmonicPpmSketch: radius must be in [1, 32] (fixed-width state makes rounds " +
        s"linear — the exact form's [1, 6] ball bound does not apply), got $radius")
    require(k >= 2 && k <= 256, s"harmonicPpmSketch: k must be in [2, 256], got $k")
    // persisted AT REST partitioned on u — the side every sketch round
    // equi-joins on, so rounds re-exchange only the ≤K-per-node state,
    // never the full edge list (guide §2.4)
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // not persisted: with the trailing nodes join gone (see below) the
    // node table has exactly ONE consumer — the round-0 state init,
    // which carries its own persist
    val nodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .distinct()
    def estimate(st: DataFrame): DataFrame = st.groupBy("v").agg(
      expr(s"if(count(1) < $k, count(1), " +
        s"${k - 1}L * (${KmvSpace}L DIV greatest(max(h), 1L)))").as("est"))
    var state = nodes.select(col("node").as("v"), expr(kmvHashS("node")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ests = scala.collection.mutable.ArrayBuffer(estimate(state))
    for (_ <- 1 to radius) {
      val w = Window.partitionBy("v").orderBy("h")
      // per-round lineage truncation (lazy), NOT persist: the round
      // reads `state` TWICE (self ∪ in-neighbor merge), so an
      // un-truncated lineage DOUBLES the logical plan every round —
      // 2^radius trees that OOM the PLANNER long before any data does.
      // Truncation is what makes radius a linear cost and lets this arm
      // go past the exact form's ball bound; local blocks by default,
      // the reliable-checkpoint swap via the engine-wide
      // spark.graft.reliableCheckpoint conf (see [[Checkpoints]]).
      // Distinct-hash selection is ONE exchange: dense_rank over the
      // v-keyed window ranks duplicate hashes equally (the k smallest
      // DISTINCT values survive the <= k filter), and the duplicate
      // drop afterwards aggregates on (v, h) UNDER the window's
      // v-partitioning — clustering on a prefix is already satisfied,
      // so the old distinct()'s separate (v, h) exchange is gone.
      val next = Checkpoints.iterCheckpoint(state
        .unionByName(e.join(state.withColumnRenamed("v", "u"), "u").select("v", "h"))
        .withColumn("__rn", dense_rank().over(w))
        .where(col("__rn") <= k)
        .drop("__rn")
        .dropDuplicates(), "harmonicPpmSketch")
      state = next
      ests += estimate(state)
    }
    // round 0's state is exactly `nodes` and states only grow, so every
    // est frame carries every node: the inner-join chain IS the node
    // universe and the old trailing nodes-left-join was a no-op join
    // (its coalesce arm could never fire) — dropped.
    val joined = ests.zipWithIndex.map { case (df, r) =>
      df.select(col("v").as("node"), col("est").as(s"__e$r"))
    }.reduce(_.join(_, Seq("node")))
    val mass = (1 to radius).map(r =>
      s"(__e$r - __e${r - 1}) * ${1000000L / r}L").mkString(" + ")
    joined
      .select(col("node"), expr(mass).as("harmonic_sketch_ppm"))
  }

  // ---------------------------------------------------------------------
  // DuckDB twins (generated from the SAME constants, the drift-proofing
  // convention)
  // ---------------------------------------------------------------------

  /** Unrolled DuckDB CTE chain computing [[harmonicPpmSketch]] over an
    * edge CTE named `eSrc`: `ks_e, ks_n, ks_s0 .. ks_s<radius>,
    * ks_e0 .. ks_e<radius>, ks_r` — select (node, harmonic_sketch_ppm)
    * from `ks_r`. Generated from the SAME constants (hash prefix, K,
    * estimator, per-round reciprocals).
    */
  def harmonicSketchSqlD(eSrc: String, radius: Int = 3, k: Int = 16): String = {
    val hash = "CAST(concat('0x', substr(md5(node), 1, 15)) AS BIGINT)"
    val head =
      s"ks_e AS (SELECT DISTINCT src AS u, dst AS v FROM $eSrc " +
        "WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst), " +
        "ks_n AS (SELECT u AS node FROM ks_e UNION SELECT v FROM ks_e), " +
        s"ks_s0 AS (SELECT node AS v, $hash AS h FROM ks_n)"
    val steps = (1 to radius).map { r =>
      s"ks_s$r AS (SELECT v, h FROM (SELECT v, h, " +
        "row_number() OVER (PARTITION BY v ORDER BY h) AS rn FROM (" +
        s"SELECT DISTINCT v, h FROM (SELECT v, h FROM ks_s${r - 1} " +
        s"UNION ALL SELECT e.v, s.h FROM ks_e e JOIN ks_s${r - 1} s ON s.v = e.u) q0) q1) q2 " +
        s"WHERE rn <= $k)"
    }
    val estims = (0 to radius).map { r =>
      s"ks_e$r AS (SELECT v, CASE WHEN count(*) < $k THEN count(*) " +
        s"ELSE ${k - 1} * ((1::BIGINT << 60) // greatest(max(h), 1)) END AS est " +
        s"FROM ks_s$r GROUP BY v)"
    }
    val mass = (1 to radius).map(r =>
      s"(ks_e$r.est - ks_e${r - 1}.est) * ${1000000L / r}").mkString(" + ")
    val joins = (0 to radius).map(r => s"JOIN ks_e$r ON ks_e$r.v = ks_n.node").mkString(" ")
    val rank =
      s"ks_r AS (SELECT ks_n.node, CAST($mass AS BIGINT) AS harmonic_sketch_ppm " +
        s"FROM ks_n $joins)"
    (Seq(head) ++ steps ++ estims :+ rank).mkString(", ")
  }

  /** Unrolled DuckDB CTE chain computing [[harmonicPpm]] over an edge
    * CTE named `eSrc` with columns (src, dst): `hc_e, hc_n, hc_d1 ..
    * hc_d<radius>, hc_r` — select (node, harmonic_ppm) from `hc_r`.
    * Every line ends with its operator/comma (interpolation-into-
    * stripMargin safe).
    */
  def harmonicSqlD(eSrc: String, radius: Int = 3): String = {
    val head =
      s"hc_e AS (SELECT DISTINCT src AS u, dst AS v FROM $eSrc " +
        "WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst), " +
        "hc_n AS (SELECT u AS node FROM hc_e UNION SELECT v FROM hc_e), " +
        "hc_d1 AS (SELECT u, v, 1 AS d FROM hc_e)"
    val steps = (2 to radius).map { k =>
      val seen = (1 until k).map(j => s"SELECT u, v FROM hc_d$j").mkString(" UNION ALL ")
      s"hc_d$k AS (SELECT fe.u, fe.v, $k AS d FROM (SELECT DISTINCT f0.u, e0.v " +
        s"FROM hc_d${k - 1} f0 JOIN hc_e e0 ON e0.u = f0.v WHERE f0.u <> e0.v) fe " +
        s"WHERE NOT EXISTS (SELECT 1 FROM ($seen) s(u, v) WHERE s.u = fe.u AND s.v = fe.v))"
    }
    val all = (1 to radius).map(j => s"SELECT u, v, d FROM hc_d$j").mkString(" UNION ALL ")
    val rank =
      s"hc_r AS (SELECT n.node, CAST(COALESCE(SUM(1000000 // a.d), 0) AS BIGINT) AS harmonic_ppm " +
        s"FROM hc_n n LEFT JOIN ($all) a(u, v, d) ON a.v = n.node GROUP BY n.node)"
    (Seq(head) ++ steps :+ rank).mkString(", ")
  }

  /** Unrolled DuckDB CTE chain computing [[pageRankPpm]] over an edge
    * CTE named `eSrc` with columns (src, dst). Emits CTE bodies
    * `pr_e, pr_o, pr_n, pr_r0 .. pr_r<iters>`; select ranks from
    * `pr_r<iters>` (node, rank_ppm). Every line ends with its
    * operator/comma (interpolation-into-stripMargin safe).
    */
  def pageRankSqlD(eSrc: String, iters: Int = 5, dampingPpm: Long = 850000L): String = {
    val base = 1000000L - dampingPpm
    val head =
      s"pr_e AS (SELECT DISTINCT src, dst FROM $eSrc WHERE src IS NOT NULL AND dst IS NOT NULL), " +
        "pr_o AS (SELECT src, count(*) AS od FROM pr_e GROUP BY 1), " +
        "pr_n AS (SELECT src AS node FROM pr_e UNION SELECT dst FROM pr_e), " +
        "pr_r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_ppm FROM pr_n)"
    val steps = (1 to iters).map { i =>
      s"pr_r$i AS (SELECT n.node, CAST($base + ($dampingPpm * COALESCE(c.s, 0)) // 1000000 AS BIGINT) AS rank_ppm " +
        s"FROM pr_n n LEFT JOIN (SELECT e.dst, SUM(r.rank_ppm // o.od) AS s " +
        s"FROM pr_e e JOIN pr_r${i - 1} r ON r.node = e.src JOIN pr_o o ON o.src = e.src " +
        "GROUP BY e.dst) c ON c.dst = n.node)"
    }
    (head +: steps).mkString(", ")
  }
}
