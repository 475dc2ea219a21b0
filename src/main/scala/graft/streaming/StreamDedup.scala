package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Exactly-once ingestion dedup for a connector feed — the streaming face
  * of the pipeline dedup family (SURVEY §2 addendum): providers re-deliver
  * updates on reconnect/failover, and the duplicates must not reach the
  * gate or the bar aggregation twice.
  *
  * `dropDuplicatesWithinWatermark` keys state by the update identity and
  * EXPIRES it once the watermark passes the event time plus the delay —
  * bounded state, unlike a raw streaming `dropDuplicates` whose key set
  * grows for the lifetime of the query (the classic 100 TB slow leak).
  * The contract is correspondingly bounded: duplicates arriving within
  * `delay` of each other are dropped; a re-delivery older than the
  * watermark may pass (it would also be dropped by the ST8 gate
  * downstream, which is why the two compose in this order).
  */
object StreamDedup {

  /** Dedup a (symbol, arrival, ts) update stream on its delivery identity
    * (symbol, arrival). `eventTimeCol` must be monotone-ish in delivery
    * order for the watermark to advance (connector feeds use the arrival
    * sequence).
    */
  def dedupWithinWatermark(
      updates: DataFrame,
      delay: String = "10 minutes",
      eventTimeCol: String = "arrival"): DataFrame =
    updates
      // +1 day: a query's initial watermark is epoch 0, and a stateful
      // operator drops rows whose event time is not ABOVE the watermark —
      // a sequence number of 0 would silently vanish from the stream
      // without the shift
      .withColumn("__evt", timestamp_seconds(col(eventTimeCol) + 86400L))
      .withWatermark("__evt", delay)
      .dropDuplicatesWithinWatermark("symbol", eventTimeCol)
      .drop("__evt")

  /** Streaming corpus-ingest dedup against a STATIC historical fingerprint
    * store — the stream-side face of [[graft.pipeline.Dedup.exactDedupIncremental]]:
    * documents arriving on the stream are dropped when their content hash
    * already exists in the store (a stream-static LEFT ANTI join —
    * stateless, so no watermark and no state growth). The store is read
    * per micro-batch: persist it (or lay it out hash-bucketed) so the
    * probe is a lookup, not a rescan.
    *
    * Within-stream duplicates are NOT this operator's job (two identical
    * docs in one batch both pass) — compose with
    * [[dedupWithinWatermark]] upstream for in-flight dedup, exactly as
    * the batch twin composes its store probe with keep-first election.
    * Emits the input columns plus the content hash `h` (so the sink can
    * append the new fingerprints back to the store — the incremental
    * loop).
    */
  def dedupAgainstStore(
      docs: DataFrame,
      seenHashes: DataFrame,
      textCol: String = "text"): DataFrame = {
    require(seenHashes.columns.contains("h"),
      s"seenHashes must carry the fingerprint column 'h', got ${seenHashes.columns.mkString(", ")}")
    docs
      .withColumn("h", md5(col(textCol)))
      .join(seenHashes.select("h"), Seq("h"), "left_anti")
  }

  /** One ingested document for [[dedupUnbounded]]: (doc_id, text,
    * arrival). Arrival breaks first-occurrence ties deterministically
    * when duplicates share a micro-batch.
    */
  case class IngestDoc(doc_id: Long, text: String, arrival: Long)

  /** UNBOUNDED cross-batch streaming exact dedup — state held BY THE
    * ENGINE, keyed by the content hash itself: a duplicate arriving hours
    * or days after its first copy still drops, where
    * [[dedupWithinWatermark]]'s bounded contract would have evicted the
    * key and [[dedupAgainstStore]] needs an external store the caller
    * maintains between batches. This is the streaming twin of the batch
    * fingerprint store with the engine's state store AS the store: one
    * value-less entry per distinct content hash (a fixed ~32-byte key in
    * the state backend — RocksDB-backed on a cluster, so state scales
    * with DISTINCT content on disk, not with the stream; StreamDedupSpec
    * runs this kernel under `RocksDBStateStoreProvider` and asserts
    * identical semantics, so the disk-backed path is exercised, not just
    * claimed), checkpointed with the query, exactly-once across restarts.
    *
    * First occurrence wins: within a micro-batch the earliest (arrival,
    * doc_id) copy of a hash is emitted and every later copy — same batch
    * or any future batch — drops. Deterministic: replaying the same
    * batches yields the same survivors.
    *
    * The honest trade vs the bounded form: state never expires. That is
    * the OPERATOR'S CONTRACT (exact dedup over the corpus lifetime needs
    * exactly this much memory — the batch fingerprint store pays the
    * identical bytes at rest); use the watermark form when re-delivery
    * windows are bounded, and this form when the stream IS the corpus
    * ingest.
    */
  def dedupUnbounded(docs: Dataset[IngestDoc]): Dataset[IngestDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => java.security.MessageDigest.getInstance("MD5")
        .digest(d.text.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .flatMapGroupsWithState[Boolean, IngestDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[IngestDoc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // hash seen in a prior batch
          else {
            state.update(true)
            // earliest copy in this batch is the corpus-wide first
            // occurrence (arrival order is the ingest order contract)
            Iterator.single(rows.minBy(d => (d.arrival, d.doc_id)))
          }
      }
  }

  /** Streaming NEAR-dup probe against a STATIC signature store — the
    * stream-side face of [[graft.pipeline.Dedup.minhashStoreMatches]]:
    * documents arriving on the stream are matched against the historical
    * corpus's MinHash signatures, emitting one row per (doc, matched store
    * doc) with the store's cluster id and the signature agreement.
    *
    * The face's own work is the signature: one scan-side expression
    * (TextOps.rowSigS — no shuffle, no window, legal in a streaming
    * projection), byte-identical to the batch aggregate wherever that
    * emits a row. Docs with < 3 tokens cannot near-dup and are filtered
    * (the batch aggregate's absent-row semantics). The probe IS the batch
    * operator: its joins are stream-static equi-joins and its
    * per-pair dedup is row-local, so the face is stateless and cannot
    * drift from the batch body.
    *
    * The store is read per micro-batch — persist it or lay it out
    * band-hash-bucketed so the probe is a lookup, not a rescan. Novel
    * docs (no output row) continue into the exact-hash store probe
    * downstream; the caller appends their signatures to the store, the
    * same incremental-loop contract as [[dedupAgainstStore]].
    */
  def nearDupAgainstStore(
      docs: DataFrame,
      sigStore: DataFrame,
      thresholdPpm: Long = 500000L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.pipeline.TextOps._
    val sigged = docs
      .where(expr(s"size(${toksS(textCol)}) >= 3"))
      .withColumn("sig", expr(rowSigS(textCol)))
    graft.pipeline.Dedup.minhashStoreMatches(sigged, sigStore, thresholdPpm, idCol)
  }

  /** The ENFORCED corpus-ingest composition: classifier quality filter
    * THEN the store probe — the [[dedupedGate]] discipline applied to the
    * document stream. Order matters and is fixed in code, not convention:
    * scoring first means rejected docs never pay the store probe, and the
    * emitted rows carry both the score columns and the content hash, so
    * one sink can (a) append fingerprints to the store and (b) dashboard
    * keep rates. Both stages are stateless (a pure projection + a
    * stream-static anti join): no watermark, no state growth.
    */
  def scoredIngest(
      docs: DataFrame,
      seenHashes: DataFrame,
      weights: Map[String, Long],
      biasMilli: Long = 0L,
      keepThresholdMilli: Long = 0L,
      textCol: String = "text"): DataFrame = {
    val scored = graft.pipeline.TextAnalysis.classifierColumns(
      docs, weights, biasMilli, keepThresholdMilli, textCol)
    dedupAgainstStore(scored.where(col("keep")).drop("keep"), seenHashes, textCol)
  }

  /** [[scoredIngest]] with STRATIFIED MIXTURE SAMPLING between the
    * classifier and the store probe — the full streaming face of the
    * batch ingest pipeline (classifier → Sampling.stratifiedByRate →
    * dedup store probe), so an ingest stream can rate-control per
    * stratum (language, source, quality bucket) WITHOUT a batch pass.
    *
    * The sampling stage reuses the batch operator verbatim: the keep
    * decision is the deterministic scan-side [[graft.pipeline.Sampling.bucketPpm]]
    * hash predicate under a BROADCAST stream-static rates join — no
    * state, no watermark, no shuffle, and (crucially for streaming) no
    * randomness: a row's keep/drop is a pure function of its id, so
    * micro-batch replays after failure re-decide identically — `rand()`
    * sampling would break exactly-once sinks on retry. Identical
    * semantics to the batch composition on the same rows (spec-asserted:
    * stream == batch replay).
    *
    * Stage order is fixed in code, like [[scoredIngest]]: classifier
    * first (rejected docs pay neither the sample hash nor the probe),
    * sample second (dropped strata rows never probe the store), store
    * probe last. Output carries score columns, `bucket_ppm`, and the
    * content hash `h` for the store-append loop.
    */
  def sampledIngest(
      docs: DataFrame,
      seenHashes: DataFrame,
      weights: Map[String, Long],
      rates: DataFrame,
      stratumCol: String,
      defaultPpm: Long = 1000000L,
      biasMilli: Long = 0L,
      keepThresholdMilli: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val scored = graft.pipeline.TextAnalysis.classifierColumns(
      docs, weights, biasMilli, keepThresholdMilli, textCol)
    val sampled = graft.pipeline.Sampling.stratifiedByRate(
      scored.where(col("keep")).drop("keep"), stratumCol, rates, defaultPpm, idCol)
    dedupAgainstStore(sampled, seenHashes, textCol)
  }

  /** The ENFORCED ingestion composition: dedup THEN the ST8 monotonic gate.
    *
    * Standalone `dedupWithinWatermark` is at-least-once (a re-delivery
    * older than the watermark passes); standalone `streamingGate` lets
    * duplicates through whenever ts equals the symbol's max (equal ts is
    * allowed by the reference contract). Composed in THIS order, each
    * covers the other's gap: in-window duplicates die in the dedup,
    * beyond-window re-deliveries of STRICTLY older updates die in the
    * gate (their ts is below the symbol's max). The only survivor is a
    * re-delivery of the symbol's newest update arriving after the
    * watermark delay with nothing newer in between — exactly the residue
    * the reference's equal-ts-allowed gate accepts too. Session wiring
    * should call this instead of assembling the two by convention.
    */
  def dedupedGate(
      updates: Dataset[MonotonicGate.Update],
      delay: String = "10 minutes",
      stateTtlMs: Long = 24 * 3600 * 1000L): Dataset[MonotonicGate.Update] = {
    import updates.sparkSession.implicits._
    MonotonicGate.streamingGate(
      dedupWithinWatermark(updates.toDF(), delay).as[MonotonicGate.Update],
      stateTtlMs)
  }

  /** A document arriving on an ingest stream for budget admission:
    * `arrival` is the delivery sequence (ties broken by doc_id), `n_tok`
    * a non-negative token count.
    */
  case class AdmitDoc(doc_id: Long, stratum: String, n_tok: Long, arrival: Long)

  /** An admitted document: input fields plus the stratum's cumulative
    * admitted tokens INCLUDING this doc (the admission receipt).
    */
  case class AdmittedDoc(
      doc_id: Long, stratum: String, n_tok: Long, arrival: Long, cum_tok: Long)

  /** Per-stratum admission counter (public: the Dataset encoder's codegen
    * needs a visible constructor).
    */
  case class AdmitState(admitted: Long)

  /** Streaming per-stratum TOKEN-BUDGET ADMISSION — the streaming twin of
    * [[graft.pipeline.Sampling.tokenCapPerStratum]]: admit documents in
    * ARRIVAL order while the stratum's cumulative admitted tokens stay
    * within its budget, then shut the door. Where the batch operator
    * picks the deterministic hash-order prefix of a corpus it can see
    * whole, a stream cannot reorder the future — arrival order IS the
    * canonical order, and the admission decision must be made online.
    * Together they close the ingest loop the same way
    * exactDedupIncremental/dedupAgainstStore do for dedup.
    *
    * State is ONE Long per stratum (the admitted-token counter) — bounded
    * by the mixture config forever, no watermark, no TTL (an exhausted
    * budget must STAY exhausted; expiring it would silently re-open
    * admission). The admission rule differs from the batch twin's strict
    * prefix DELIBERATELY: batch can afford "first overflow ends the
    * stratum" because its hash order is re-runnable, but an online
    * admitter that did that would let one oversized doc permanently waste
    * the remaining budget — so a doc that would overflow is rejected
    * without consuming budget, and smaller later docs may still fit (the
    * budget can never overfill under either rule). Within a micro-batch
    * rows are
    * processed in (arrival, doc_id) order, so replays after failure
    * re-decide identically (micro-batch boundaries cannot change the
    * outcome — spec-asserted against the in-memory reference across
    * adversarial splits).
    *
    * Strata absent from `budgets` are dropped (the config IS the mixture,
    * the [[graft.pipeline.Sampling.exactPerStratum]] convention); negative
    * token counts fail the query loudly.
    */
  def tokenBudgetAdmit(
      docs: Dataset[AdmitDoc],
      budgets: Map[String, Long]): Dataset[AdmittedDoc] = {
    require(budgets.nonEmpty, "tokenBudgetAdmit: budgets must be non-empty")
    budgets.foreach { case (s, b) =>
      require(b >= 0, s"tokenBudgetAdmit: budget for '$s' must be >= 0, got $b")
    }
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.stratum)
      .flatMapGroupsWithState[AdmitState, AdmittedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (stratum: String, rows: Iterator[AdmitDoc], state: GroupState[AdmitState]) =>
          budgets.get(stratum) match {
            case None => Iterator.empty // unlisted stratum: dropped
            case Some(budget) =>
              var admitted = state.getOption.map(_.admitted).getOrElse(0L)
              // rows.toSeq materializes THIS STRATUM's slice of the
              // micro-batch in one task to sort it into the deterministic
              // (arrival, doc_id) admission order — bounded by micro-batch
              // size in the normal case, but a pathological single-stratum
              // burst (one stratum dominating a huge micro-batch) lands
              // entirely in this task's heap; cap micro-batch size
              // (maxOffsetsPerTrigger or the source's own batching) when a
              // stratum can burst
              val out = rows.toSeq.sortBy(d => (d.arrival, d.doc_id)).flatMap { d =>
                if (d.n_tok < 0)
                  throw new IllegalArgumentException(
                    s"tokenBudgetAdmit: negative n_tok ${d.n_tok} for doc ${d.doc_id}")
                if (admitted + d.n_tok <= budget) {
                  admitted += d.n_tok
                  Some(AdmittedDoc(d.doc_id, d.stratum, d.n_tok, d.arrival, admitted))
                } else None
              }
              state.update(AdmitState(admitted))
              out.iterator
          }
      }
  }

  /** In-memory reference model of [[tokenBudgetAdmit]] (for property
    * tests): one pass over the full feed in (arrival, doc_id) order.
    */
  def admitReference(
      docs: Seq[AdmitDoc], budgets: Map[String, Long]): Seq[AdmittedDoc] = {
    val admitted = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(d => (d.arrival, d.doc_id)).flatMap { d =>
      budgets.get(d.stratum).flatMap { budget =>
        val cur = admitted.getOrElse(d.stratum, 0L)
        if (cur + d.n_tok <= budget) {
          admitted(d.stratum) = cur + d.n_tok
          Some(AdmittedDoc(d.doc_id, d.stratum, d.n_tok, d.arrival, cur + d.n_tok))
        } else None
      }
    }
  }
  /** A document with provenance arriving on an ingest stream. */
  case class UrlDoc(doc_id: Long, url: String, arrival: Long)

  /** A domain-cap admission receipt: the registrable domain (null for
    * unparseable provenance) and the domain's admitted count INCLUDING
    * this doc (0 for the uncapped null-domain path).
    */
  case class CappedDoc(doc_id: Long, domain: String, arrival: Long, n_admitted: Long)

  /** Streaming PER-DOMAIN DOCUMENT CAP — the streaming twin of
    * [[graft.pipeline.UrlOps.domainCap]]: admit at most `cap` documents
    * per registrable domain over an UNBOUNDED ingest stream. The domain
    * derives in the PLAN via the same
    * [[graft.pipeline.UrlOps.registrableDomain]] column expression the
    * batch operator uses (one implementation, no Scala re-derivation to
    * drift), then a NoTimeout keyed counter admits in (arrival, doc_id)
    * order.
    *
    * DELIBERATE divergence from the batch twin, documented: batch
    * domainCap draws a content-blind uniform hash sample because it sees
    * the whole domain at once; an online admitter cannot sample a future
    * it has not seen, so the streaming cap keeps the FIRST `cap`
    * arrivals — the standard online semantics (and the reason a
    * backfill should re-run the batch form). Null-domain documents pass
    * uncapped with n_admitted 0, mirroring the batch operator's
    * NULL-provenance contract.
    *
    * State is ONE Long per domain, monotone to `cap` and never expiring
    * (an exhausted domain must STAY exhausted) — domains are unbounded
    * like [[dedupUnbounded]]'s hashes, so the cluster backend is the
    * disk-backed store (exercised under RocksDB in StreamDedupSpec).
    */
  def domainCapAdmit(docs: Dataset[UrlDoc], cap: Long): Dataset[CappedDoc] = {
    require(cap >= 1, s"domainCapAdmit: cap must be positive, got $cap")
    import docs.sparkSession.implicits._
    val withDom = docs
      .withColumn("domain", graft.pipeline.UrlOps.registrableDomain(col("url")))
      .select(col("doc_id"), col("domain"), col("arrival"))
      .as[CappedDocKey]
    capAdmitKernel(withDom, cap)
  }

  /** The keyed-counter kernel of [[domainCapAdmit]], over rows whose
    * domain is already derived (shared with [[crawlAdmitStream]]).
    */
  private def capAdmitKernel(withDom: Dataset[CappedDocKey], cap: Long): Dataset[CappedDoc] = {
    import withDom.sparkSession.implicits._
    withDom
      .groupByKey(d => Option(d.domain).getOrElse(""))
      .flatMapGroupsWithState[AdmitState, CappedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[CappedDocKey], state: GroupState[AdmitState]) =>
          val ordered = rows.toSeq.sortBy(d => (d.arrival, d.doc_id))
          if (key.isEmpty) {
            // null-domain: uncapped, no state written
            ordered.iterator.map(d => CappedDoc(d.doc_id, null, d.arrival, 0L))
          } else {
            var admitted = state.getOption.map(_.admitted).getOrElse(0L)
            val out = ordered.flatMap { d =>
              if (admitted < cap) {
                admitted += 1
                Some(CappedDoc(d.doc_id, d.domain, d.arrival, admitted))
              } else None
            }
            state.update(AdmitState(admitted))
            out.iterator
          }
      }
  }

  /** Plan-side row of [[domainCapAdmit]] (public for the encoder). */
  case class CappedDocKey(doc_id: Long, domain: String, arrival: Long)

  /** STREAMING CRAWL-POLICY ADMISSION — the online twin of the composed
    * `ext_crawl_policy` gate, chaining the three policy axes over an
    * unbounded ingest stream:
    *
    *  1. robots.txt consent: [[graft.pipeline.Robots.robotsAllowed]] is
    *     stream-static legal (rules pre-aggregate per HOST — the RFC
    *     9309 origin scope — on the static side; the decision is a
    *     scan-side fold), so disallowed fetches drop STATELESSLY;
    *  2. domain opt-out: a stream-static LEFT OUTER join against the
    *     registry with a null-marker filter (anti-join semantics without
    *     the unsupported stream-static anti join) — also stateless;
    *  3. per-domain cap: [[domainCapAdmit]]'s keyed counter (the one
    *     stateful stage — one Long per domain, NoTimeout, disk-backed
    *     on a cluster).
    *
    * Rejection at an earlier axis consumes nothing downstream (a
    * robots-blocked doc never claims a domain slot) — the survivor-
    * chained discipline of [[webIngestStream]]. Online divergence from
    * the batch gate, documented as there: the cap admits the first
    * `cap` arrivals, where batch draws a content-blind hash sample.
    * Output: [[CappedDoc]] receipts for ADMITTED documents only.
    */
  def crawlAdmitStream(
      docs: Dataset[UrlDoc],
      rules: DataFrame,
      optOutDomains: DataFrame,
      cap: Long): Dataset[CappedDoc] = {
    require(cap >= 1, s"crawlAdmitStream: cap must be positive, got $cap")
    import docs.sparkSession.implicits._
    // robots consent is HOST-scoped (RFC 9309 origin scope — the rules
    // table is keyed by the host each policy was fetched from); the
    // opt-out registry and the cap are REGISTRABLE-DOMAIN-scoped, so the
    // survivor projection derives the domain key separately from the url
    val decided = graft.pipeline.Robots.robotsAllowed(
        docs.toDF(), rules, keepCols = Seq("url", "arrival"))
      .where(col("allowed"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"))
    val afterOptOut = decided
      .join(optOutDomains.select(col("domain")).distinct()
        .withColumn("__oo", lit(true)), Seq("domain"), "left_outer")
      .where(col("__oo").isNull)
    capAdmitKernel(
      afterOptOut.select(col("doc_id"), col("domain"), col("arrival")).as[CappedDocKey],
      cap)
  }

  /** A raw crawl record entering the streaming web-ingest chain. */
  case class WebDoc(doc_id: Long, url: String, html: String, arrival: Long)

  /** A web-ingest survivor: per-doc receipts from every stage it passed
    * (canonical URL — null for unparseable provenance; registrable
    * domain; normalized-content fingerprint for the store-append loop).
    */
  case class WebIngestRow(
      doc_id: Long, canon_url: String, domain: String, arrival: Long,
      content_md5: String)

  /** The ENFORCED streaming WEB-INGEST composition — the streaming twin
    * of the batch `ext_web_ingest` chain, stage order fixed in code (the
    * [[dedupedGate]]/[[scoredIngest]] discipline), cheapest election
    * first so each stage shrinks the next one's input:
    *
    *   markup extract → URL canonicalize/domain (ONE stateless
    *   projection: [[graft.pipeline.MarkupExtract.extract]] with
    *   provenance passthrough + the SAME
    *   [[graft.pipeline.UrlOps.canonicalUrl]]/`registrableDomain`/
    *   [[graft.pipeline.TextAnalysis.normalizeExpr]] column expressions
    *   the batch operators use — no Scala re-derivation to drift)
    *   → OPTIONAL canonical/redirect alias collapse (stream-static
    *     broadcast remap of the URL key — see the `aliases` note below)
    *   → canon-URL-keyed unbounded dedup (byte-variant fetches of one
    *     page collapse; unparseable provenance keeps itself, no state)
    *   → per-domain cap (first `cap` arrivals; null domains uncapped)
    *   → normalized-content unbounded dedup (first occurrence wins).
    *
    * DOCUMENTED divergences from the batch chain (inherent to online
    * processing, same rationale as [[domainCapAdmit]]): elections keep
    * the FIRST (arrival, doc_id) occurrence where batch keeps min
    * doc_id, and the domain cap admits the first `cap` arrivals where
    * batch draws a content-blind hash sample — a backfill re-runs the
    * batch form. A doc REJECTED at any stage consumes nothing
    * downstream (its content hash stays unseen, its domain slot stays
    * open), exactly like the batch chain's survivor-chained elections.
    *
    * State: one Boolean per canonical URL + one Long per domain + one
    * Boolean per content hash — all NoTimeout by the
    * [[dedupUnbounded]]/[[domainCapAdmit]] corpus-lifetime contract,
    * disk-backed (RocksDB) on a cluster; spec-exercised under
    * `RocksDBStateStoreProvider` against [[webIngestReference]] across
    * adversarial micro-batch splits.
    */
  def webIngestStream(
      docs: Dataset[WebDoc],
      cap: Long,
      aliases: Option[DataFrame] = None): Dataset[WebIngestRow] = {
    require(cap >= 1, s"webIngestStream: cap must be positive, got $cap")
    import docs.sparkSession.implicits._
    val projected = graft.pipeline.MarkupExtract.extract(
        docs.toDF(), keep = Seq("url", "arrival"))
      .select(col("doc_id"),
        graft.pipeline.UrlOps.canonicalUrl(col("url")).as("canon_url"),
        graft.pipeline.UrlOps.registrableDomain(col("url")).as("domain"),
        col("arrival"),
        md5(graft.pipeline.TextAnalysis.normalizeExpr(col("text"))).as("content_md5"))
    // OPTIONAL canonical/redirect collapse before the URL election: a
    // model-sized (src, terminal) alias map (UrlOps.resolveAliases over
    // rel=canonical + redirect edges, the batch urlDedupAliased key
    // space) remaps the dedup KEY stream-static — stateless, broadcast.
    // NULL terminals (cycle members) and unlisted keys keep their own.
    // The DOMAIN stays the FETCHED page's domain on purpose: the domain
    // cap governs crawl composition per source actually fetched, while
    // the alias remap governs URL identity — same division as the batch
    // chain (urlDedupAliased vs domainCap on provenance).
    val prepared = (aliases match {
      case None => projected
      case Some(a) =>
        val missing = Seq("src", "terminal").filterNot(a.columns.contains)
        require(missing.isEmpty, "webIngestStream: aliases must carry " +
          s"(src, terminal) — a resolveAliases result; missing ${missing.mkString(", ")}")
        // duplicate src keys would FAN OUT the left join (one fetch
        // becomes two rows feeding the stateful elections) — collapse to
        // one deterministic terminal per src at the boundary; a
        // resolveAliases result is already unique, so this is a no-op
        // aggregation on well-formed input
        val amap = broadcast(a.where(col("terminal").isNotNull)
          .groupBy(col("src").as("__asrc"))
          .agg(min(col("terminal")).as("__t")))
        projected.join(amap, col("canon_url") === col("__asrc"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("__t"), col("canon_url")).as("canon_url"),
            col("domain"), col("arrival"), col("content_md5"))
    }).as[WebIngestRow]
    // URL election: first occurrence per canonical URL; unparseable rows
    // ride a NUL-prefixed per-doc key (the batch urlDedup unique-key
    // convention; a real canonical URL always starts with its lowercased
    // scheme, so a leading NUL cannot collide) — singleton groups that
    // pass through and write NO state
    val urlDeduped = prepared
      .groupByKey(r => Option(r.canon_url).getOrElse("\u0000" + r.doc_id))
      .flatMapGroupsWithState[Boolean, WebIngestRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[WebIngestRow], state: GroupState[Boolean]) =>
          if (key.nonEmpty && key.charAt(0) == '\u0000') rows
          else if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(r => (r.arrival, r.doc_id)))
          }
      }
    // domain cap among URL survivors ([[domainCapAdmit]]'s kernel, the
    // full row riding through)
    val capped = urlDeduped
      .groupByKey(r => Option(r.domain).getOrElse(""))
      .flatMapGroupsWithState[AdmitState, WebIngestRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[WebIngestRow], state: GroupState[AdmitState]) =>
          val ordered = rows.toSeq.sortBy(r => (r.arrival, r.doc_id))
          if (key.isEmpty) ordered.iterator
          else {
            var admitted = state.getOption.map(_.admitted).getOrElse(0L)
            val out = ordered.flatMap { r =>
              if (admitted < cap) { admitted += 1; Some(r) } else None }
            state.update(AdmitState(admitted))
            out.iterator
          }
      }
    // content election among capped survivors
    capped
      .groupByKey(_.content_md5)
      .flatMapGroupsWithState[Boolean, WebIngestRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[WebIngestRow], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(r => (r.arrival, r.doc_id)))
          }
      }
  }

  /** In-memory reference model of [[webIngestStream]]'s keyed stages
    * (rows = the stage-0 projection's output): one sequential pass in
    * (arrival, doc_id) order, each election seeing only prior SURVIVORS.
    */
  def webIngestReference(
      rows: Seq[WebIngestRow],
      cap: Long,
      aliases: Map[String, String] = Map.empty): Seq[WebIngestRow] = {
    val seenUrl = scala.collection.mutable.Set.empty[String]
    val domCnt = scala.collection.mutable.Map.empty[String, Long]
    val seenHash = scala.collection.mutable.Set.empty[String]
    rows.sortBy(r => (r.arrival, r.doc_id)).map { r =>
      if (r.canon_url != null && aliases.contains(r.canon_url))
        r.copy(canon_url = aliases(r.canon_url))
      else r
    }.flatMap { r =>
      val urlOk = r.canon_url == null || seenUrl.add(r.canon_url)
      lazy val domOk = r.domain == null || {
        val c = domCnt.getOrElse(r.domain, 0L)
        if (c < cap) { domCnt(r.domain) = c + 1; true } else false
      }
      if (urlOk && domOk && seenHash.add(r.content_md5)) Some(r) else None
    }
  }

  /** THE FULL ONLINE PIPELINE — crawl GOVERNANCE chained into the
    * web-INGEST dedup chain, stage order fixed in code (the enforced-
    * composition discipline of [[webIngestStream]]/[[dedupedGate]]):
    *
    *   robots.txt consent (host-scoped stream-static join, stateless)
    *   → domain opt-out (registrable-domain stream-static left-outer +
    *     null-marker filter, stateless)
    *   → per-host politeness budget (OPTIONAL, when `budgets` is given
    *     — [[politeBudgetAdmit]]'s (day, count) keyed counter against
    *     the host's declared Crawl-delay ceiling)
    *   → [[webIngestStream]]: markup extract → canon-URL dedup →
    *     per-domain cap → normalized-content dedup.
    *
    * The composition contract this type-level chaining enforces: a doc
    * REJECTED by governance consumes NOTHING downstream — it claims no
    * canon-URL slot, no domain-cap slot, and its content hash stays
    * unseen (a robots-blocked fetch must not shadow a later lawful
    * fetch of the same page; spec-asserted with exactly that feed).
    * Both consent axes are STATELESS (rejection before any keyed
    * state, and before the extraction projection — the cheapest
    * elections run first, the batch chain's ordering). The politeness
    * budget sits after them (a robots-blocked fetch consumes no budget)
    * but BEFORE the ingest chain's content work, and it admits FETCHES,
    * not novel content: a governance-surviving fetch the URL election
    * later collapses still spent a real request against the host —
    * politeness is about fetch rate, so it must charge the budget (the
    * opposite choice from the domain cap below). `budgets` is the
    * [[graft.pipeline.Robots.crawlDelayBudget]] table — (host,
    * daily_budget), model-sized, broadcast. The domain cap lives in the
    * ingest chain, where it counts actual URL-election survivors —
    * composing [[crawlAdmitStream]]'s counter IN FRONT of the ingest
    * chain would double-cap (an admission slot spent on a doc the URL
    * election then drops).
    */
  def crawlIngestStream(
      docs: Dataset[WebDoc],
      rules: DataFrame,
      optOutDomains: DataFrame,
      cap: Long,
      budgets: Option[DataFrame] = None,
      aliases: Option[DataFrame] = None): Dataset[WebIngestRow] = {
    require(cap >= 1, s"crawlIngestStream: cap must be positive, got $cap")
    import docs.sparkSession.implicits._
    val admitted = graft.pipeline.Robots.robotsAllowed(
        docs.toDF(), rules, keepCols = Seq("url", "html", "arrival"))
      .where(col("allowed"))
      .withColumn("domain", graft.pipeline.UrlOps.registrableDomain(col("url")))
      .join(optOutDomains.select(col("domain")).distinct()
        .withColumn("__oo", lit(true)), Seq("domain"), "left_outer")
      .where(col("__oo").isNull)
    val surviving = budgets match {
      case None =>
        admitted.select(col("doc_id"), col("url"), col("html"), col("arrival")).as[WebDoc]
      case Some(b) =>
        val missing = Seq("host", "daily_budget").filterNot(b.columns.contains)
        require(missing.isEmpty, "crawlIngestStream: budgets must carry " +
          s"(host, daily_budget); missing ${missing.mkString(", ")}")
        // the robots join already derived the origin host — reuse it for
        // the budget key (one derivation, no drift), stream-static left
        // join against the model-sized budget table
        politeBudgetAdmit(admitted
          .join(broadcast(b.select(col("host"),
            col("daily_budget").cast("long").as("daily_budget"))), Seq("host"), "left_outer")
          .select(col("doc_id"), col("url"), col("html"), col("arrival"),
            col("host"), col("daily_budget"))
          .as[BudgetDoc])
    }
    webIngestStream(surviving, cap, aliases)
  }

  /** A frontier candidate discovered ONLINE: the canonical URL, its
    * origin host, and the first discovering document's provenance.
    */
  case class FrontierCand(url: String, host: String, doc_id: Long, arrival: Long)

  /** ONLINE LINK DISCOVERY — the stage that CLOSES the crawl loop: the
    * pages the ingest chain admits are themselves the source of the next
    * frontier. Per micro-batch, each ingested page's anchors are
    * extracted, entity-decoded, RFC 3986-resolved against the page URL
    * and canonicalized (ONE stateless projection — the
    * [[graft.pipeline.LinkGraph.extractLinks]]/`resolveLinks` kernels
    * the batch ext_frontier plan uses, so online and batch discovery
    * cannot drift); already-crawled targets drop via a stream-static
    * LEFT ANTI against the crawled-URL store (the [[dedupAgainstStore]]
    * shape — the store is the at-rest table the crawl's append loop
    * maintains); and cross-batch re-discoveries collapse through
    * engine-held state keyed by the canonical URL itself (one value-less
    * entry per DISCOVERED url, the [[dedupUnbounded]] corpus-lifetime
    * contract — a popular page linked from thousands of later pages
    * must enter the frontier once, not thousands of times). Each
    * candidate emits exactly once, with the FIRST (arrival, doc_id)
    * discoverer's provenance. Feed the emitted candidates to
    * [[graft.pipeline.Robots.fetchSchedule]] per scheduling epoch.
    *
    * STATE COMPACTION: the one-entry-per-discovered-URL state grows
    * with the corpus over a single run's lifetime — `discoveredStore`
    * is the restart bound (the [[templateAdmitCheckpoint]] /
    * dedupAgainstStore pattern): the emission LOG at rest, anti-joined
    * scan-side exactly like the crawled store, so a restarted query
    * never re-emits NOR re-mints state for anything a prior run
    * already discovered — emissions across the restart boundary are
    * identical to an uninterrupted run (spec-asserted under RocksDB).
    * Production folds emissions into the store on the crawl's own
    * append cadence; engine state then holds only the CURRENT run's
    * discoveries.
    */
  def discoverFrontierStream(
      docs: Dataset[WebDoc],
      crawledUrls: DataFrame,
      discoveredStore: Option[DataFrame] = None): Dataset[FrontierCand] = {
    // crawledUrls in production IS the bucketed membership table
    // ([[graft.pipeline.UrlOps.freshViaStore]]'s store, maintained by
    // crawledStoreAppend) read stream-static — the same one artifact
    // backs the batch and online anti-join arms
    require(crawledUrls.columns.contains("url"),
      s"crawledUrls must carry 'url' (canonical keys), got ${crawledUrls.columns.mkString(", ")}")
    discoveredStore.foreach(ds => require(ds.columns.contains("url"),
      s"discoveredStore must carry 'url' (canonical keys), got ${ds.columns.mkString(", ")}"))
    import docs.sparkSession.implicits._
    val seen = discoveredStore match {
      case None => crawledUrls.select(col("url").as("__cu"))
      case Some(ds) => crawledUrls.select(col("url").as("__cu"))
        .unionByName(ds.select(col("url").as("__cu")))
    }
    val cands = graft.pipeline.LinkGraph.resolveLinks(
        graft.pipeline.LinkGraph.extractLinks(docs.toDF(), keepCols = Seq("url", "arrival")))
      .select(col("doc_id"), col("arrival"),
        graft.pipeline.UrlOps.canonicalUrl(col("href")).as("__cu"))
      .where(col("__cu").isNotNull)
      .join(seen, Seq("__cu"), "left_anti")
      .select(col("__cu").as("url"),
        graft.pipeline.UrlOps.hostOf(col("__cu")).as("host"),
        col("doc_id"), col("arrival"))
      .as[FrontierCand]
    cands
      .groupByKey(_.url)
      .flatMapGroupsWithState[Boolean, FrontierCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[FrontierCand], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(r => (r.arrival, r.doc_id)))
          }
      }
  }

  /** The FULL online crawl loop closed: admitted pages discover the
    * next frontier ([[discoverFrontierStream]] — crawled targets drop,
    * each candidate emits once) and every fresh candidate is assigned
    * its earliest polite dispatch instant
    * ([[politeDispatchStream]] — one Long of next-free-slot state per
    * host, spaced by the host's declared Crawl-delay or the crawler's
    * `defaultDelayMs`). `budgets` is the model-sized
    * [[graft.pipeline.Robots.crawlDelayBudget]] (host, delay_ms) table,
    * broadcast stream-static between the two keyed stages. The batch
    * twin is the ext_frontier plan (discover ∪ sitemaps − crawled →
    * fetchSchedule); the composition contract is the ingest family's:
    * a dropped candidate (already crawled, already discovered) consumes
    * no dispatch slot.
    *
    * `priorities` (optional) is a stream-static (url, priority) table —
    * the batch [[graft.pipeline.Frontier.frontierPriority]] score,
    * maintained on the rank store's cadence — that switches each host's
    * scheduling window to VALUE order via [[priorityDispatchStream]]:
    * within one window a known-valuable candidate takes the earliest
    * polite slot. Candidates absent from the table carry a NULL
    * priority and sort last (the unknown-reason convention); duplicate
    * urls in the table fold to max at the boundary (the duplicate-prior
    * discipline).
    */
  def frontierDispatchStream(
      docs: Dataset[WebDoc],
      crawledUrls: DataFrame,
      budgets: DataFrame,
      defaultDelayMs: Long = 1000L,
      stateTtlMs: Long = 24 * 3600 * 1000L,
      templateCap: Option[Long] = None,
      templateCheckpoint: Option[DataFrame] = None,
      discoveredStore: Option[DataFrame] = None,
      priorities: Option[DataFrame] = None): Dataset[Dispatch] = {
    require(defaultDelayMs >= 1,
      s"frontierDispatchStream: defaultDelayMs must be positive, got $defaultDelayMs")
    val missing = Seq("host", "delay_ms").filterNot(budgets.columns.contains)
    require(missing.isEmpty, "frontierDispatchStream: budgets must carry " +
      s"(host, delay_ms) — a crawlDelayBudget table; missing ${missing.mkString(", ")}")
    import docs.sparkSession.implicits._
    val discovered = discoverFrontierStream(docs, crawledUrls, discoveredStore)
    // OPTIONAL trap guard between discovery and dispatch: a template
    // explosion stops consuming dispatch slots after its cap; both
    // at-rest restart folds pass through
    val guarded = templateCap.fold(discovered)(
      templateCapAdmit(discovered, _, templateCheckpoint))
    val withDelay = guarded.toDF()
      .join(broadcast(budgets.select(col("host"),
        col("delay_ms").cast("long").as("__dm"))), Seq("host"), "left")
    priorities match {
      case None =>
        politeDispatchStream(
          stateTtlMs = stateTtlMs,
          reqs = withDelay
            .select(col("doc_id"), col("url"), col("host"), col("arrival"),
              coalesce(col("__dm"), lit(defaultDelayMs)).as("delay_ms"))
            .as[DispatchReq])
      case Some(pr) =>
        val m = Seq("url", "priority").filterNot(pr.columns.contains)
        require(m.isEmpty, "frontierDispatchStream: priorities must carry " +
          s"(url, priority) — a frontierPriority table; missing ${m.mkString(", ")}")
        // NO forced broadcast: priorities is URL-keyed, i.e. frontier-
        // sized, not model-sized like the (host, delay_ms) table above —
        // forcing a 10⁸-row broadcast is the recrawlDueStream checkpoint
        // lesson (stream-static KEYED join; AQE still broadcasts small
        // tables). The static side re-evaluates per micro-batch —
        // INCLUDING this groupBy/max fold, which re-runs per batch even
        // on a pre-folded table (ADVICE r20: the fold is the boundary
        // guard for duplicate-url priority tables and is kept
        // unconditionally) — so a caller serving a large or derived
        // table passes it pre-folded AND persisted/at-rest on the rank
        // store's cadence, bounding the per-batch re-aggregation to a
        // cached model-sized frame.
        priorityDispatchStream(
          stateTtlMs = stateTtlMs,
          reqs = withDelay
            .join(pr.groupBy("url")
              .agg(max(col("priority").cast("long")).as("__pri")), Seq("url"), "left")
            .select(col("doc_id"), col("url"), col("host"), col("arrival"),
              coalesce(col("__dm"), lit(defaultDelayMs)).as("delay_ms"),
              col("__pri").as("priority"))
            .as[PrioDispatchReq])
    }
  }

  /** In-memory reference of [[discoverFrontierStream]]'s election: first
    * (arrival, doc_id) discoverer per candidate URL, crawled URLs out.
    */
  def discoverFrontierReference(
      cands: Seq[FrontierCand],
      crawled: Set[String]): Seq[FrontierCand] = {
    val seen = scala.collection.mutable.Set.empty[String]
    cands.sortBy(r => (r.arrival, r.doc_id, r.url)).flatMap { r =>
      if (!crawled.contains(r.url) && seen.add(r.url)) Some(r) else None
    }
  }

  /** Plan-side row of [[politeBudgetAdmit]] (public for the encoder):
    * a governance survivor with its origin host and that host's declared
    * daily fetch budget (None when the host declared no Crawl-delay, or
    * the provenance was unparseable).
    */
  case class BudgetDoc(
      doc_id: Long, url: String, html: String, arrival: Long,
      host: String, daily_budget: Option[Long])

  /** Per-host budget-window state: the current UTC day and the fetches
    * admitted within it (public: the encoder needs the constructor).
    */
  case class BudgetState(day: Long, admitted: Long)

  /** STREAMING per-host POLITENESS-BUDGET admission — the online stage of
    * [[graft.pipeline.Robots.crawlBudgetKept]]: each host that declared a
    * Crawl-delay gets `daily_budget` fetches per UTC day (day = arrival
    * DIV 86_400_000, arrival in epoch ms), admitted in (arrival, doc_id)
    * order; hosts without a declared budget and NULL-host documents pass
    * through on unique space-prefixed keys WITHOUT writing state (a real
    * host can never start with a space — the [[webIngestStream]]
    * singleton-key convention).
    *
    * State is (day, count) — two Longs per declared-budget host, bounded
    * by the budget table forever: the day ADVANCES and the counter
    * resets when a new day's first fetch arrives (no timeout — an
    * exhausted window must stay exhausted until its day actually ends,
    * and the next day's arrival is the only event that matters). A
    * late arrival from an already-closed day counts against the CURRENT
    * window — the conservative online reading (a polite crawler cannot
    * un-fetch; charging the past would exceed today's ceiling), and the
    * documented divergence from the batch twin, which sees the whole
    * feed and bills every fetch to its own day. On an arrival-ordered
    * feed the two agree exactly (spec-asserted across adversarial
    * micro-batch splits under RocksDB).
    */
  def politeBudgetAdmit(rows: Dataset[BudgetDoc]): Dataset[WebDoc] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(r =>
        if (r.host == null || r.daily_budget.isEmpty) " " + r.doc_id else r.host)
      .flatMapGroupsWithState[BudgetState, WebDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BudgetDoc], state: GroupState[BudgetState]) =>
          if (key.nonEmpty && key.charAt(0) == ' ')
            it.map(r => WebDoc(r.doc_id, r.url, r.html, r.arrival))
          else {
            val ordered = it.toSeq.sortBy(r => (r.arrival, r.doc_id))
            var st = state.getOption.getOrElse(BudgetState(-1L, 0L))
            val out = ordered.flatMap { r =>
              val d = r.arrival / 86400000L
              if (d > st.day) st = BudgetState(d, 0L)
              if (st.admitted < r.daily_budget.get) {
                st = BudgetState(st.day, st.admitted + 1L)
                Some(WebDoc(r.doc_id, r.url, r.html, r.arrival))
              } else None
            }
            state.update(st)
            out.iterator
          }
      }
  }

  /** ONLINE per-template frontier admission — the streaming trap GUARD
    * ([[graft.pipeline.UrlOps.templateCapSurvivors]]'s twin): at most
    * `cap` candidates per (host, URL template) enter the dispatchable
    * frontier, counted by ONE Long of state per (host, template) key —
    * a calendar/facet/session-id explosion stops consuming dispatch
    * slots after its cap however long the crawl runs. DOCUMENTED
    * divergence (the [[domainCapAdmit]] convention): the stream admits
    * the first `cap` ARRIVALS where the batch form keeps the URL-order
    * first k — a backfill re-runs the batch form. NULL-host candidates
    * pass uncapped and write no state.
    *
    * STATE COMPACTION: a SATURATED key (admitted == cap) semantically
    * needs zero bits of engine state — every later candidate is
    * rejected regardless — yet counting keeps a Long per key forever.
    * The `checkpoint` parameter is the periodic fold: a (host,
    * template, admitted) table built by [[templateAdmitCheckpoint]]
    * from the admission LOG at rest (the [[dedupAgainstStore]]
    * batch-store/stream-twin pattern). On restart, saturated keys
    * (admitted >= cap) are rejected SCAN-SIDE against the broadcast
    * table and NEVER mint state again — the compaction — while
    * partially-admitted keys REHYDRATE their count on first touch, so
    * admissions across the restart boundary are IDENTICAL to an
    * uninterrupted run (spec-asserted under RocksDB). The checkpoint
    * table is bounded by the distinct templates actually admitted —
    * the cap itself bounds that to cap·|active templates|, and the
    * saturated head of a trap-skewed distribution is tiny next to the
    * per-key state it retires.
    */
  def templateCapAdmit(
      cands: Dataset[FrontierCand], cap: Long,
      checkpoint: Option[DataFrame] = None): Dataset[FrontierCand] = {
    require(cap >= 1, s"templateCapAdmit: cap must be positive, got $cap")
    import cands.sparkSession.implicits._
    val withTpl = cands.toDF()
      .withColumn("__tpl", graft.pipeline.UrlOps.urlTemplate(col("url")))
    val withCkpt = checkpoint match {
      case None => withTpl.withColumn("__adm", lit(null).cast("long"))
      case Some(ck) =>
        val missing = Seq("host", "template", "admitted").filterNot(ck.columns.contains)
        require(missing.isEmpty,
          "templateCapAdmit: checkpoint must carry (host, template, admitted) — " +
            s"a templateAdmitCheckpoint table; missing ${missing.mkString(", ")}")
        withTpl.join(
            // one count per key at the boundary (the duplicate-prior
            // discipline) — a repeated-key checkpoint must not fan the
            // stream; max is the saturated-leaning election
            broadcast(ck.select(col("host"), col("template").as("__tpl"),
                col("admitted").cast("long").as("__adm"))
              .groupBy("host", "__tpl").agg(max(col("__adm")).as("__adm"))),
            Seq("host", "__tpl"), "left")
          // saturated keys reject scan-side — no state is ever minted
          // for them again (the compaction)
          .where(col("__adm").isNull || col("__adm") < cap)
    }
    val keyed = withCkpt
      .select(col("url"), col("host"), col("doc_id"), col("arrival"),
        col("__tpl"), col("__adm"))
      .as[(String, String, Long, Long, String, Option[Long])]
    keyed
      .groupByKey { case (_, host, _, _, tpl, _) =>
        if (host == null) "" else host + " " + tpl
      }
      .flatMapGroupsWithState[AdmitState, FrontierCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String, Long, Long, String, Option[Long])],
         state: GroupState[AdmitState]) =>
          val ordered = rows.toSeq.sortBy(r => (r._4, r._3, r._1))
          if (key.isEmpty)
            ordered.iterator.map(r => FrontierCand(r._1, r._2, r._3, r._4))
          else {
            // engine state wins (the checkpoint is already folded into
            // it); on first touch after a restart, rehydrate the
            // partial count from the checkpoint row
            var admitted = state.getOption.map(_.admitted)
              .orElse(ordered.head._6).getOrElse(0L)
            val out = ordered.flatMap { r =>
              if (admitted < cap) {
                admitted += 1
                Some(FrontierCand(r._1, r._2, r._3, r._4))
              } else None
            }
            state.update(AdmitState(admitted))
            out.iterator
          }
      }
  }

  /** The trap guard's AT-REST state fold — per (host, template) counts
    * of the admission LOG (what [[templateCapAdmit]] emitted), the
    * checkpoint table its `checkpoint` parameter rehydrates from and
    * rejects saturated keys against. Batch, one keyed aggregation; the
    * template derivation is the SAME [[graft.pipeline.UrlOps.urlTemplate]]
    * kernel the online guard keys by, so the fold and the guard cannot
    * drift. NULL-host rows are excluded (they pass the guard uncapped
    * and hold no state to fold).
    */
  def templateAdmitCheckpoint(
      admitted: DataFrame,
      urlCol: String = "url",
      hostCol: String = "host"): DataFrame =
    admitted.where(col(hostCol).isNotNull)
      .select(col(hostCol).as("host"),
        graft.pipeline.UrlOps.urlTemplate(col(urlCol)).as("template"))
      .groupBy("host", "template")
      .agg(count(lit(1)).as("admitted"))

  /** A fetch request entering the online dispatcher: provenance plus its
    * host's declared Crawl-delay (None = the crawler's own default,
    * resolved by the caller before keying).
    */
  case class DispatchReq(doc_id: Long, url: String, host: String, arrival: Long, delay_ms: Long)

  /** A fetch request entering the VALUE-ORDERED online dispatcher
    * ([[priorityDispatchStream]]): [[DispatchReq]] plus its
    * [[graft.pipeline.Frontier.frontierPriority]] score (None = the
    * unknown-reason NULL, which must sort below every scored candidate
    * — the batch NULLS LAST contract).
    */
  case class PrioDispatchReq(
      doc_id: Long, url: String, host: String, arrival: Long, delay_ms: Long,
      priority: Option[Long])

  /** A dispatch assignment: the earliest instant the fetch may fire. */
  case class Dispatch(doc_id: Long, url: String, host: String, dispatch_ms: Long)

  /** Arrival-ordered scheduling window — [[politeDispatchStream]]'s
    * deterministic (arrival, doc_id, url) key (url tiebreak: two
    * discoveries from ONE page share arrival and doc_id).
    */
  private val arrivalWindowOrder: Ordering[PrioDispatchReq] =
    Ordering.by(r => (r.arrival, r.doc_id, r.url))

  /** Value-ordered scheduling window — the batch
    * [[graft.pipeline.Frontier.fetchScheduleByPriority]] key,
    * `(priority DESC NULLS LAST, url)`, extended with (arrival,
    * doc_id) so a FULL tie (two requests for one url in one window —
    * e.g. a recrawl and a discovery feed scored by the same table)
    * still orders deterministically, never by partition-dependent
    * iterator order. Hand-rolled compare: negating a Long priority for
    * `Ordering.by` would overflow at `Long.MinValue`; the None arm
    * must be explicit (the recrawlDueStream null-tiebreak discipline —
    * a None beside a Some in one window must order, not NPE); and the
    * url tiebreak compares UTF-8 BYTES, not Java chars — the batch
    * window sorts Spark UTF8String binary order, and UTF-16 code-unit
    * order diverges from it for supplementary-plane urls, which would
    * break the pinned one-window stream == batch contract.
    */
  private val priorityWindowOrder: Ordering[PrioDispatchReq] =
    new Ordering[PrioDispatchReq] {
      // UTF-8 byte order == Unicode CODE POINT order, so the byte
      // comparison can walk the UTF-16 chars directly — zero
      // allocation on the sort hot path (encoding both urls per
      // comparison would allocate 2·n·log n arrays per window).
      // Precondition (documented, ADVICE r20): urls are WELL-FORMED
      // UTF-16 — the canonicalizer's output always is. For a LONE
      // surrogate this comparison uses the raw surrogate code point
      // (0xD800+) where UTF8String encodes '?' (0x3F), so only
      // malformed strings could diverge from the batch order.
      // Surrogate-aware: at the first differing char, compare the full
      // code points — a supplementary pair (code point >= 0x10000)
      // must sort ABOVE every BMP char even though its high surrogate
      // (0xD800-0xDBFF) sorts below 0xE000+ in raw UTF-16 order.
      private def urlCmp(a: String, b: String): Int = {
        val la = a.length
        val lb = b.length
        var i = 0
        while (i < la && i < lb) {
          if (a.charAt(i) != b.charAt(i))
            return Integer.compare(a.codePointAt(i), b.codePointAt(i))
          i += 1
        }
        Integer.compare(la, lb)
      }
      override def compare(a: PrioDispatchReq, b: PrioDispatchReq): Int =
        (a.priority, b.priority) match {
          case (Some(x), Some(y)) if x != y => java.lang.Long.compare(y, x)
          case (Some(_), None)              => -1
          case (None, Some(_))              => 1
          case _ =>
            val u = urlCmp(a.url, b.url)
            if (u != 0) u
            else {
              val t = java.lang.Long.compare(a.arrival, b.arrival)
              if (t != 0) t else java.lang.Long.compare(a.doc_id, b.doc_id)
            }
        }
    }

  /** ONLINE POLITENESS DISPATCHER — the streaming twin of
    * [[graft.pipeline.Robots.fetchSchedule]]: the batch form PLACES a
    * known frontier into slots; this assigns each ARRIVING fetch
    * request its earliest polite dispatch instant, one Long of state
    * per host (the host's next free slot):
    *
    *   `dispatch = max(arrival, next_free)`; `next_free = dispatch +
    *   delay_ms`.
    *
    * An idle host dispatches immediately (the max with arrival — slots
    * never accumulate credit from quiet periods, which is what
    * distinguishes a politeness gap from a token bucket: a burst after
    * an idle hour still spaces `delay_ms` apart). Requests are
    * processed in (arrival, doc_id) order within a batch; NULL-host
    * requests dispatch at their arrival on unique space-prefixed keys
    * without writing state (the [[politeBudgetAdmit]] convention).
    *
    * State is BOUNDED by a processing-time TTL (the [[MonotonicGate]]
    * reaper discipline — a long crawl touches ~10^8 hosts and must not
    * carry a Long for each forever): a host silent for its outstanding
    * busy window plus `stateTtlMs` is evicted. Eviction is DECISION-
    * IDENTICAL to keeping the state: it fires only after the host's
    * next-free slot has passed (the timeout covers the burst-extended
    * window — `k` queued fetches push `next_free` `k·delay` beyond the
    * last arrival, so the duration is that extent PLUS the TTL), and a
    * past slot loses every `max(arrival, next_free)` anyway — absent
    * state IS a past slot (spec-asserted: with-TTL == without across
    * adversarial splits and pauses under RocksDB). PRECONDITION of that
    * claim: the ARRIVAL clock tracks processing time (live ingestion).
    * The busy extent is measured in arrival-time ms but the timeout is
    * armed in processing time — on a backfill or slow replay whose
    * arrival clock lags wall-clock, the reaper can evict a host whose
    * `next_free` is still in the arrival future, and the next request
    * then dispatches at its arrival, earlier than the declared delay.
    * `stateTtlMs = 0` is the safe backfill setting; it
    * disables the reaper (the NoTimeout corpus-lifetime form). NOTE the
    * engine contract of processing-time timeouts: the query runs
    * micro-batches continuously to evaluate them, so
    * `processAllAvailable()` never quiesces — production picks a real
    * trigger interval, and tests either pass `stateTtlMs = 0` (the
    * [[MonotonicGate]] spec convention) or poll the sink.
    */
  def politeDispatchStream(
      reqs: Dataset[DispatchReq],
      stateTtlMs: Long = 24 * 3600 * 1000L): Dataset[Dispatch] = {
    import reqs.sparkSession.implicits._
    dispatchImpl(
      reqs.map(r => PrioDispatchReq(r.doc_id, r.url, r.host, r.arrival, r.delay_ms, None)),
      stateTtlMs, arrivalWindowOrder)
  }

  /** VALUE-ORDERED online politeness dispatcher —
    * [[politeDispatchStream]] with each SCHEDULING WINDOW (one host's
    * requests within one micro-batch) ordered by the batch
    * [[graft.pipeline.Frontier.fetchScheduleByPriority]] key,
    * `(priority DESC NULLS LAST, url)`, instead of arrival order: a
    * high-value candidate takes the host's earliest polite slot ahead
    * of same-window low-value ones. Same state machine (one Long of
    * next-free per host), same TTL reaper, same NULL-host pass-through.
    *
    * DIVERGENCE CONTRACT (spec-pinned): value ordering applies WITHIN
    * one window only — ACROSS windows arrival wins, because an earlier
    * window's dispatches are already assigned when a later high-value
    * candidate arrives (an online dispatcher cannot un-dispatch; the
    * token never accumulates credit either way). On a feed that lands
    * in ONE window with one arrival instant per host, the stream
    * schedule EQUALS the batch `fetchScheduleByPriority` plan: per-host
    * emission order is the slot order and `dispatch_ms − arrival` is
    * exactly `not_before_ms`. A backfill that needs the batch total
    * order re-runs the batch form — the [[templateCapAdmit]]
    * divergence convention.
    *
    * PRECONDITION (the [[politeDispatchStream]] TTL discipline): the
    * arrival clock tracks processing time — LIVE ingestion. Value
    * ordering schedules the window as one batch at
    * `max(arrival, next_free)`, so a window whose arrivals span a wide
    * range can hold an early-arrival candidate behind a later
    * high-priority one, idling the host up to the window's arrival
    * spread; live, that spread is bounded by the trigger interval (the
    * politeness delay typically dwarfs it), but on a replay whose
    * windows span hours the idle gap is real — `stateTtlMs = 0` plus
    * the batch form is the backfill path there too.
    */
  def priorityDispatchStream(
      reqs: Dataset[PrioDispatchReq],
      stateTtlMs: Long = 24 * 3600 * 1000L): Dataset[Dispatch] =
    dispatchImpl(reqs, stateTtlMs, priorityWindowOrder)

  /** The ONE dispatch state machine both public forms delegate to (the
    * [[graft.pipeline.Robots.fetchSchedule]] delegation discipline:
    * one politeness-spacing/NULL-host/TTL contract, parameterized by
    * the window ordering alone).
    */
  private def dispatchImpl(
      reqs: Dataset[PrioDispatchReq],
      stateTtlMs: Long,
      windowOrder: Ordering[PrioDispatchReq]): Dataset[Dispatch] = {
    import reqs.sparkSession.implicits._
    val timeoutConf =
      if (stateTtlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    reqs
      .groupByKey(r => if (r.host == null) " " + r.doc_id else r.host)
      .flatMapGroupsWithState[Long, Dispatch](
        OutputMode.Append(), timeoutConf) {
        (key: String, it: Iterator[PrioDispatchReq], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // TTL reaper: next_free is in the past, so the removed state
            // is reconstructible as absent — see the scaladoc argument
            state.remove()
            Iterator.empty
          } else if (key.nonEmpty && key.charAt(0) == ' ')
            it.map(r => Dispatch(r.doc_id, r.url, r.host, r.arrival))
          else {
            val ordered = it.toSeq.sorted(windowOrder)
            var nextFree = state.getOption.getOrElse(Long.MinValue)
            var latestArrival = Long.MinValue
            val out = ordered.map { r =>
              val at = math.max(r.arrival, nextFree)
              nextFree = at + r.delay_ms
              latestArrival = math.max(latestArrival, r.arrival)
              Dispatch(r.doc_id, r.url, r.host, at)
            }
            state.update(nextFree)
            if (stateTtlMs > 0) {
              // a burst extends next_free past the batch's arrivals —
              // the timeout outlives that busy window, then adds the
              // TTL (the window's LATEST arrival, not its last row's:
              // under value ordering the two differ)
              val busy = math.max(nextFree - latestArrival, 0L)
              state.setTimeoutDuration(busy + stateTtlMs)
            }
            out.iterator
          }
      }
  }

  /** In-memory reference of [[politeDispatchStream]]: one sequential
    * pass in (arrival, doc_id) order with a per-host next-free map.
    */
  def politeDispatchReference(reqs: Seq[DispatchReq]): Seq[Dispatch] = {
    val nextFree = scala.collection.mutable.Map.empty[String, Long]
    reqs.sortBy(r => (r.arrival, r.doc_id, r.url)).map { r =>
      if (r.host == null) Dispatch(r.doc_id, r.url, r.host, r.arrival)
      else {
        val at = math.max(r.arrival, nextFree.getOrElse(r.host, Long.MinValue))
        nextFree(r.host) = at + r.delay_ms
        Dispatch(r.doc_id, r.url, r.host, at)
      }
    }
  }

  /** In-memory reference model of [[domainCapAdmit]]. */
  def domainCapReference(docs: Seq[CappedDocKey], cap: Long): Seq[CappedDoc] = {
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.sortBy(d => (d.arrival, d.doc_id)).flatMap { d =>
      if (d.domain == null) Some(CappedDoc(d.doc_id, null, d.arrival, 0L))
      else {
        val cur = counts.getOrElse(d.domain, 0L)
        if (cur < cap) {
          counts(d.domain) = cur + 1
          Some(CappedDoc(d.doc_id, d.domain, d.arrival, cur + 1))
        } else None
      }
    }
  }
}
