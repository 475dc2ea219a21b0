package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators: token counting, quality scoring, language ID,
  * document fingerprinting. All scan-side (no shuffle), all integer
  * outputs (ppm fixed-point) so results are deterministic and
  * oracle-comparable across engines.
  */
object TextAnalysis {
  import TextOps._

  /** Token/char statistics per document. */
  def tokenStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("toks", expr(toksS(textCol)))
      .select(
        col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(s"size(array_distinct(toks))").cast("long").as("n_distinct"),
        expr("aggregate(toks, 0L, (acc, t) -> acc + length(t)) * 1000000 DIV greatest(size(toks), 1)")
          .as("avg_token_len_ppm"),
        expr("size(array_distinct(toks)) * 1000000 DIV greatest(size(toks), 1)")
          .as("distinct_ppm"))

  /** SESSION-DOCUMENT ASSEMBLY — the structured-logs→training-text step: a
    * user's event stream becomes one document per activity session (gap >
    * `gapSeconds` starts a new session), with the events rendered in
    * exact time order — the standard recipe for turning interaction logs
    * (chats, search sessions, clickstreams) into sequence-model training
    * documents. Emits per session the bounds, the event count, and the
    * md5 of the assembled text (order-exact; the text itself is
    * `"event_type:price_micros"` entries space-joined — swap the entry
    * expression for richer renderings).
    *
    * Scale shape: one exchange keyed by the user (the sessionize window),
    * then a per-session aggregate whose collect_list is bounded by the
    * SESSION length (gap-bounded by construction — never a whole-user or
    * whole-corpus array). The assembly sorts within the aggregated struct
    * array, the [[graft.pipeline.Dedup.lineDedupKeepFirst]] kept_md5
    * pattern.
    */
  def sessionDocs(ticks: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    require(gapSeconds > 0, s"sessionDocs: gapSeconds must be positive, got $gapSeconds")
    val needed = Seq("symbol", "secs", "event_id", "event_type", "price_micros")
      .filterNot(ticks.columns.contains)
    require(needed.isEmpty,
      s"sessionDocs needs the ticks-view columns ${needed.mkString(", ")} " +
        s"(got ${ticks.columns.mkString(", ")})")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("secs", "event_id")
    ticks
      .withColumn("__prev", lag(col("secs"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("secs") - col("__prev") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("__new")).over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("__entry",
        concat(col("event_type"), lit(":"), col("price_micros").cast("string")))
      .groupBy(col("symbol"), col("session_idx"))
      .agg(
        min(col("secs")).as("session_start"),
        max(col("secs")).as("session_end"),
        count(lit(1)).as("n_events"),
        md5(concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("secs"), col("event_id"), col("__entry")))),
            s => s.getField("__entry")))).as("doc_md5"))
  }

  /** PER-SOURCE DATA CARD — the one-page corpus summary published next to
    * a dataset release (and consulted before choosing mixture weights):
    * per source, the doc and token counts, mean quality, the dominant
    * language with its share, and the within-corpus duplication rate
    * (share of this source's docs whose text also appears elsewhere under
    * the corpus-wide exact-dedup election — curated-vs-crawl overlap
    * shows up here immediately). All integer (ppm means via DIV), so the
    * card hashes cross-engine.
    *
    * Scale shape: one pass computes the per-doc metrics scan-side
    * (token stats and quality are projections; the dedup verdict is the
    * [[Dedup.exactDedup]] hash window — fixed-width keys); the rollup is
    * a |sources|-row aggregate plus a (source, lang)-sized mode election.
    * Nothing rank-windows the corpus.
    */
  def dataCard(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      srcCol: String = "source",
      langCol: String = "lang"): DataFrame = {
    val needed = Seq(idCol, textCol, srcCol, langCol).filterNot(docs.columns.contains)
    require(needed.isEmpty,
      s"dataCard: columns absent from docs: ${needed.mkString(", ")}")
    val perDoc = docs.select(col(idCol), col(srcCol), col(langCol))
      .join(tokenStats(docs, idCol, textCol).select(col(idCol), col("n_tokens")), idCol)
      .join(qualityScore(docs, idCol, textCol), idCol)
      .join(Dedup.exactDedup(docs, idCol, textCol).select(col(idCol), col("is_keeper")), idCol)
    val rollup = perDoc.groupBy(srcCol).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      expr("sum(quality_ppm) DIV count(1)").as("mean_quality_ppm"),
      expr("sum(IF(is_keeper, 0L, 1L)) * 1000000 DIV count(1)").as("dup_ppm"))
    val langW = org.apache.spark.sql.expressions.Window.partitionBy(srcCol)
      .orderBy(col("__lc").desc, col(langCol))
    val topLang = perDoc.groupBy(col(srcCol), col(langCol))
      .agg(count(lit(1)).as("__lc"))
      .withColumn("__r", row_number().over(langW))
      .where(col("__r") === 1)
      .select(col(srcCol), col(langCol).as("top_lang"), col("__lc").as("__topn"))
    rollup.join(topLang, srcCol)
      .select(col(srcCol), col("n_docs"), col("n_tokens"), col("mean_quality_ppm"),
        col("dup_ppm"), col("top_lang"),
        expr("__topn * 1000000 DIV n_docs").as("top_lang_ppm"))
  }

  /** Quality score in ppm: rewards length (capped) and lexical diversity.
    * Deterministic integer formula — a stand-in for model-based quality
    * classifiers with identical pipeline shape.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    tokenStats(docs, idCol, textCol)
      .select(col(idCol),
        expr("least(least(n_tokens, 100) * 5000 + distinct_ppm DIV 2, 1000000)").as("quality_ppm"))

  /** Gopher/Dolma-style composite keep/drop filter — the rule stack a
    * pretraining pipeline actually applies, composed from the existing
    * integer metrics ([[tokenStats]], [[repetitionStats]]) so every
    * threshold compare is deterministic and oracle-replicable. Emits the
    * decision AND a `drop_reasons` bitmask (bit 0 too-few-tokens, 1
    * too-many, 2 token-length out of band, 3 low lexical diversity, 4
    * duplicate bigrams, 5 duplicate trigrams) — pipelines keep the mask
    * for filter-rate dashboards and ablations, not just the boolean.
    * Thresholds are ppm integers; defaults adapt the published Gopher
    * rules to this engine's fixed-point convention.
    */
  def gopherFilter(
      docs: DataFrame,
      minTokens: Long = 50L,
      maxTokens: Long = 100000L,
      minAvgTokenLenPpm: Long = 3000000L,
      maxAvgTokenLenPpm: Long = 10000000L,
      minDistinctPpm: Long = 200000L,
      maxDupBigramPpm: Long = 200000L,
      maxDupTrigramPpm: Long = 300000L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val reasons = expr(
      s"""cast(n_tokens < ${minTokens}L as bigint) * 1
         | + cast(n_tokens > ${maxTokens}L as bigint) * 2
         | + cast(avg_token_len_ppm < ${minAvgTokenLenPpm}L
         |        or avg_token_len_ppm > ${maxAvgTokenLenPpm}L as bigint) * 4
         | + cast(distinct_ppm < ${minDistinctPpm}L as bigint) * 8
         | + cast(dup_bigram_ppm > ${maxDupBigramPpm}L as bigint) * 16
         | + cast(dup_trigram_ppm > ${maxDupTrigramPpm}L as bigint) * 32""".stripMargin)
    tokenStats(docs, idCol, textCol)
      .join(repetitionStats(docs, idCol, textCol), Seq(idCol))
      .withColumn("drop_reasons", reasons)
      .select(col(idCol),
        (col("drop_reasons") === 0L).cast("bigint").as("keep"),
        col("drop_reasons"))
  }

  /** Stopword-marker language heuristic (argmax of per-language marker
    * counts, precedence en>es>de>fr, 'und' when no markers hit).
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val scored = docs
      .withColumn("toks", expr(toksS(textCol)))
      .withColumns(langMarkers.map(_._1).map(l => s"s_$l" -> expr(langScoreS(l))).toMap)
    scored.select(col(idCol), expr(heurLangS).as("heur_lang"))
  }

  /** Gopher-style within-document repetition: duplicate bigram/trigram
    * fractions in ppm (a high duplicate fraction marks template/spam-like
    * text that repeats itself). Relational form: posexplode tokens once,
    * n-grams via window lead (codegen'd), two narrow per-doc aggregations.
    * Docs too short for an n-gram report 0 (nothing repeats).
    */
  def repetitionStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy("pos")
    val grams = docs
      .select(col(idCol), posexplode(expr(toksS(textCol))).as(Seq("pos", "t")))
      .withColumn("t2", lead("t", 1).over(w))
      .withColumn("t3", lead("t", 2).over(w))
    val bi = grams.where(col("t2").isNotNull)
      .select(col(idCol), concat_ws(" ", col("t"), col("t2")).as("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_bi"), countDistinct(col("g")).as("d_bi"))
    val tri = grams.where(col("t3").isNotNull)
      .select(col(idCol), concat_ws(" ", col("t"), col("t2"), col("t3")).as("g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_tri"), countDistinct(col("g")).as("d_tri"))
    docs.select(col(idCol)).join(bi, Seq(idCol), "left").join(tri, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bi"), lit(0L)).as("n_bigrams"),
        coalesce(expr("(n_bi - d_bi) * 1000000 DIV greatest(n_bi, 1)"), lit(0L))
          .as("dup_bigram_ppm"),
        coalesce(col("n_tri"), lit(0L)).as("n_trigrams"),
        coalesce(expr("(n_tri - d_tri) * 1000000 DIV greatest(n_tri, 1)"), lit(0L))
          .as("dup_trigram_ppm"))
  }

  /** Email pattern for [[piiScrub]] — `[.]` instead of an escaped dot so
    * the same literal parses identically in Java regex (Spark) and RE2
    * (DuckDB oracle).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  /** Phone pattern for [[piiScrub]] (NANP 555 test block). */
  val PhoneRe = "[+]1-555-[0-9]{4}"

  /** Rule-based PII scrub: redact emails and phone numbers with typed
    * placeholder tokens and report per-doc match counts. Scan-side
    * codegen'd regex — the plan shape of every rule-based scrub/filter
    * pass over a 100 TB corpus (no shuffle, pushdown-friendly).
    */
  def piiScrub(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")).as("scrub_md5"))

  /** Winnowing fingerprints, aggregated per doc (count / min / max / sum of
    * the distinct fingerprint set — order-insensitive on purpose).
    *
    * Relational form: explode 8-gram positions, md5 each gram ONCE, sliding
    * 4-window min via a window frame, distinct, aggregate. One sort per doc
    * partition instead of the combinatorial nested-HOF expression (which
    * would re-hash every gram 4× per window and again per output column).
    */
  def fingerprintStats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .where(length(col(textCol)) >= 11)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, length($textCol)-7), j -> substring($textCol, j, 8))"))
        .as(Seq("pos", "gram")))
      .withColumn("h", expr(hashS("gram")))
    val w = Window.partitionBy(idCol).orderBy("pos").rowsBetween(-3, 0)
    val fps = grams
      .withColumn("wmin", min(col("h")).over(w))
      .where(col("pos") >= 3) // full windows only (pos is 0-based)
      .select(col(idCol), col("wmin").as("fp"))
      .distinct()
    val stats = fps.groupBy(idCol).agg(
      count(lit(1)).as("n_fp"),
      min(col("fp")).as("min_fp"),
      max(col("fp")).as("max_fp"),
      sum(col("fp")).as("sum_fp"))
    // docs shorter than 11 chars keep a zero row (parity with the oracle)
    docs.select(col(idCol)).join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        col("min_fp"), col("max_fp"),
        coalesce(col("sum_fp"), lit(0L)).as("sum_fp"))
  }

  /** BM25-shaped relevance scoring of the corpus against a small query term
    * set, in pure integer arithmetic (the repo's fixed-point convention —
    * `ln`-based IDF rounds differently across engines, so the IDF factor is
    * the rational surrogate `(N - df + 1) / (N + 1)` and the TF saturation
    * keeps BM25's `tf / (tf + k·len-norm)` shape with integer division).
    * Per (doc, term), with the IDF factor reduced to ppm FIRST so no
    * intermediate exceeds ~1e16 even at 1e10 documents (tf·(N−df+1)·1e6
    * would silently wrap Long at corpus scale):
    *
    *   idf_ppm     = (N − df + 1) · 1e6  DIV  (N + 1)
    *   contrib_ppm = tf · idf_ppm  DIV  (tf + 1 + 2·dl DIV avgdl)
    *
    * The plan is the 100 TB shape regardless of the scoring formula:
    * tokens are FILTERED to the query terms scan-side (only hits shuffle —
    * the inverted-index access path), document lengths aggregate per doc
    * once, corpus scalars (N, avgdl) ride in via one broadcast row, and
    * per-term df is a broadcast-joined #terms-row table.
    */
  def bm25Lite(
      docs: DataFrame,
      terms: Seq[String],
      topK: Int = 50,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25Lite needs at least one query term")
    val toks = docs.select(col(idCol), explode(expr(toksS(textCol))).as("t"))
    val dl = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      expr("sum(dl) DIV count(1)").as("avgdl"))
    val tf = toks.where(col("t").isin(terms: _*))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "t")
      .join(dl, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("contrib_ppm", expr(
        "tf * ((n_docs - df + 1) * 1000000L DIV (n_docs + 1)) DIV (tf + 1 + (2 * dl) DIV greatest(avgdl, 1))"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hit"), sum(col("contrib_ppm")).as("score_ppm"))
      .orderBy(col("score_ppm").desc, col(idCol))
      .limit(topK)
  }

  /** Benchmark decontamination: for every training document, how many of
    * its distinct 3-token shingles appear anywhere in the eval corpus, and
    * that count as a ppm share of the document's shingles. Pipelines drop
    * or flag documents above a contamination threshold before training so
    * eval benchmarks stay meaningful.
    *
    * Scale shape: the EVAL side must be the SMALL side (benchmarks —
    * a bounded set of documents, never a corpus share that grows with the
    * data); its distinct shingle set broadcasts, and the training corpus
    * is probed in ONE pass — a broadcast left join that both counts each
    * doc's shingles and its eval hits in a single doc-keyed aggregation
    * (the eval set is distinct, so the join cannot multiply rows). Docs
    * too short to shingle report zeros (never silently dropped — the
    * cluster-election universe lesson).
    */
  def contamination(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val train = Dedup.shingleRows(docs, idCol, textCol)
    val evalSh = Dedup.shingleRows(evalDocs, idCol, textCol)
      .select("sh").distinct().withColumn("hit", lit(1))
    val agg = train.join(broadcast(evalSh), Seq("sh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sh"), count(col("hit")).as("n_hit"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L DIV greatest(coalesce(n_sh, 0L), 1)")
          .as("contaminated_ppm"))
  }

  /** NEAR-DUP (fuzzy) decontamination — the probe [[contamination]]'s
    * exact n-gram matching structurally cannot be: a PARAPHRASED eval
    * document slips every exact path (one edited token kills all three
    * shingles covering it; a light paraphrase — every few tokens
    * reworded — zeroes the exact hit count entirely, and the Bloom
    * variant inherits the same blindness because it probes the same
    * shingles). This probe bands MinHash signatures over the UNIGRAM
    * token sets instead: word choice survives paraphrase far better
    * than word ORDER, so the signal degrades gracefully with edit
    * density instead of cliffing at one-edit-per-window. Same signature
    * machinery as near-dup dedup ([[Dedup.minhashSignatureOf]], the
    * band join, signature-agreement verification) — only the substrate
    * changes, shingle rows → distinct-token rows.
    *
    * Output: one row per (training doc, eval doc) pair whose signature
    * agreement clears `thresholdPpm` — the excision list for the fuzzy
    * pass. Training docs matching nothing produce no rows (at corpus
    * scale the flagged set is tiny; a per-doc report would be
    * corpus-sized).
    *
    * Scale shape: the eval side is BENCHMARK-BOUNDED (same contract as
    * [[contamination]]'s broadcast map), so its band table and
    * signatures broadcast; the training side pays one doc-keyed
    * signature aggregation (map-side partial mins over exploded token
    * hashes) and then O(BANDS) broadcast-hash-join probes per doc — the
    * corpus never shuffles, never self-joins, and is read ONCE: both
    * signatures RIDE the band join (the broadcast probe filters
    * map-side, so only band-colliding rows carry the extra width) and
    * the agreement check runs on the candidate-pair aggregate — no
    * signature rejoin, which would re-execute the corpus-side
    * explode+aggregate a second time.
    */
  def contaminationFuzzy(
      docs: DataFrame,
      evalDocs: DataFrame,
      thresholdPpm: Long = 500000L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import graft.pipeline.TextOps.{toksS, hashS, bandHashesS, sigSimS}
    def tokHashes(d: DataFrame, outId: String) =
      d.select(col(idCol).as(outId), explode(expr(toksS(textCol))).as("t"))
        .distinct()
        .withColumn("h", expr(hashS("t")))
    val trainSigs = Dedup.minhashSignatureOf(tokHashes(docs, idCol), idCol)
    val evalSigs = Dedup.minhashSignatureOf(tokHashes(evalDocs, "eval_id"), "eval_id")
    // signatures ride the band rows: the broadcast probe drops
    // non-colliding corpus rows map-side, so only candidates pay the
    // width, and the corpus-side explode+aggregate executes exactly once
    val tBands = trainSigs.select(col(idCol), col("sig").as("__sx"),
      explode(expr(bandHashesS)).as("bh"))
    val eBands = evalSigs.select(col("eval_id"), col("sig").as("__sy"),
      explode(expr(bandHashesS)).as("bh"))
    tBands.join(broadcast(eBands), "bh")
      .groupBy(col(idCol), col("eval_id"))
      .agg(first(col("__sx")).as("__sx"), first(col("__sy")).as("__sy"))
      .withColumn("sim_ppm", expr(sigSimS("__sx", "__sy")))
      .where(col("sim_ppm") >= thresholdPpm)
      .select(col(idCol), col("eval_id"), col("sim_ppm"))
  }

  /** BLOOM-FILTER contamination probe — the scale path past
    * [[contamination]]'s exact broadcast: an exact distinct-shingle set
    * for a LARGE eval suite (every benchmark a lab guards, hundreds of
    * millions of shingles) stops fitting a broadcast, while a Bloom
    * filter at the same coverage is a few hundred MB at fpp=1e-3 and
    * still one executor-local O(k) probe per shingle. The trade is
    * one-sided and safe for decontamination: NO false negatives (every
    * truly contaminated shingle hits — nothing contaminated slips
    * through), a bounded false-positive rate (a clean doc's
    * contaminated_ppm reads slightly high — it gets over-dropped, never
    * under-dropped).
    *
    * Fully declarative: the filter builds with the native codegen'd
    * `BloomFilterAggregate` (map-side partial bit-array merges — the eval
    * shingles never funnel through the driver; only the merged bit array
    * does, once), and probes with `BloomFilterMightContain` — no UDF
    * anywhere. Same output schema as [[contamination]]; NOT
    * oracle-hashable by design (the bit array depends on Spark's
    * internal hash), so the contract is spec-asserted instead: superset
    * of the exact probe's hits, FPR within budget on disjoint corpora.
    */
  def contaminationBloom(
      docs: DataFrame,
      evalDocs: DataFrame,
      expectedShingles: Long,
      fpp: Double = 0.001,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    contaminationBloomWith(docs,
      evalShingleBloom(evalDocs, expectedShingles, fpp, idCol, textCol), idCol, textCol)

  /** Build the eval suite's Bloom filter ONCE — the at-rest artifact both
    * probe faces consume ([[contaminationBloomWith]] batch,
    * [[contaminationBloomInline]] streaming): in production the filter is
    * built when the benchmark suite changes and persisted next to it,
    * not rebuilt per corpus pass. Sizing, the silent-clamp guard, and
    * the one-sided-error contract live here (see [[contaminationBloom]]).
    */
  def evalShingleBloom(
      evalDocs: DataFrame,
      expectedShingles: Long,
      fpp: Double = 0.001,
      idCol: String = "doc_id",
      textCol: String = "text"): Array[Byte] = {
    require(expectedShingles > 0, s"expectedShingles must be positive, got $expectedShingles")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1), got $fpp")
    // m = ceil(-n ln p / (ln 2)^2), the textbook sizing
    val numBits = math.ceil(
      -expectedShingles * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // Spark's BloomFilterAggregate SILENTLY CLAMPS numBits to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default 2^26
    // bits = 8 MB) — above ~4.7M expected shingles at fpp=1e-3 the
    // textbook sizing would be ignored and the real FPR would blow past
    // budget with no warning, breaking the bounded-over-drop half of the
    // one-sided-error contract (no-false-negatives would still hold).
    // Fail fast with the remedy instead of degrading silently.
    val maxNumBits = evalDocs.sparkSession.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    require(numBits <= maxNumBits,
      s"contaminationBloom: sizing for expectedShingles=$expectedShingles at fpp=$fpp " +
        s"needs $numBits bits, above spark.sql.optimizer.runtime.bloomFilter.maxNumBits=" +
        s"$maxNumBits — BloomFilterAggregate would silently clamp the filter and the " +
        "false-positive rate would exceed the budget; raise that conf to at least " +
        s"$numBits (${numBits / 8 / 1024 / 1024 + 1} MB bit array) before calling")
    // bloom_filter_agg / might_contain are not in the public function
    // registry; the Catalyst expressions are — wire them through the
    // bridge (the VecDot idiom for native expressions)
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bfAgg = GraftSqlBridge.column(
      new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(col("sh"))),
        Literal(expectedShingles), Literal(numBits)).toAggregateExpression())
    // ONE model-sized driver read (the KMeans.train convention): the bit
    // array is numBits/8 bytes however big the eval corpus is, and
    // might_contain requires a CONSTANT filter — it then ships to
    // executors as a literal, the same broadcast shape as the classifier
    // model
    Dedup.shingleRows(evalDocs, idCol, textCol).agg(bfAgg.as("__bf"))
      .head.getAs[Array[Byte]]("__bf")
  }

  /** Probe an ALREADY-BUILT Bloom filter (the batch half of
    * [[contaminationBloom]], which delegates here): the relational
    * explode+aggregate form for batch corpora. For streams use
    * [[contaminationBloomInline]] — same filter bytes, stateless scan.
    */
  def contaminationBloomWith(
      docs: DataFrame,
      bfBytes: Array[Byte],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val agg = Dedup.shingleRows(docs, idCol, textCol)
      .withColumn("__hit", GraftSqlBridge.column(
        BloomFilterMightContain(
          Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
          GraftSqlBridge.expression(xxhash64(col("sh"))))))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_sh"), lit(0L)).as("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L DIV greatest(coalesce(n_sh, 0L), 1)")
          .as("contaminated_ppm"))
  }

  /** STREAMING-SAFE contamination probe — the [[classifierScoreInline]]
    * discipline applied to [[contamination]]: the eval set's distinct
    * shingles ship as a LITERAL map, the document's distinct shingles
    * derive in one scan-side HOF, and hits are O(1) map lookups per
    * shingle — no explode, no join, no aggregation, so the probe is legal
    * in a stateless streaming projection (an ingest stream can refuse
    * benchmark-contaminated documents online, not in a nightly batch).
    * Output-equal to [[contamination]] on the same rows (spec-asserted):
    * same distinct-shingle counting, same ppm arithmetic, zeros for
    * docs too short to shingle.
    *
    * The eval set is bounded by contract (a benchmark is a fixed set of
    * documents), which is what makes the literal-map form sound — the
    * same boundedness [[contamination]]'s broadcast relies on.
    */
  def contaminationInline(
      docs: DataFrame,
      evalShingles: Set[String],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(evalShingles.nonEmpty, "contaminationInline: evalShingles must be non-empty")
    val evalMap = evalShingles.map(_ -> 1L).toMap
    inlineProbe(docs, idCol, textCol)(s => element_at(typedLit(evalMap), s).isNotNull)
  }

  /** The scan-side body of the two streaming contamination probes: each
    * document's distinct word 3-shingles (none under 3 tokens), `n_hit` =
    * how many satisfy `hit`, and the ppm share. Output (idCol, n_sh, n_hit,
    * contaminated_ppm); `docs` columns that collide with its internal or
    * output names are refused.
    */
  private def inlineProbe(docs: DataFrame, idCol: String, textCol: String)(
      hit: Column => Column): DataFrame = {
    val reserved = Seq("__toks", "__shs", "n_sh", "n_hit", "contaminated_ppm")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"docs columns collide with output/internal names (rename them): ${reserved.mkString(", ")}")
    docs
      .withColumn("__toks", expr(toksS(textCol)))
      .withColumn("__shs", expr(
        """array_distinct(IF(size(__toks) >= 3,
          |  transform(sequence(1, size(__toks) - 2),
          |    i -> concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1), element_at(__toks, i + 2))),
          |  array_repeat('', 0)))""".stripMargin.replace("\n", " ")))
      .withColumn("n_sh", size(col("__shs")).cast("long"))
      .withColumn("n_hit", size(filter(col("__shs"), hit)).cast("long"))
      .select(col(idCol), col("n_sh"), col("n_hit"),
        expr("n_hit * 1000000L DIV greatest(n_sh, 1L)").as("contaminated_ppm"))
  }

  /** TEXT NORMALIZATION pass — the canonicalization every byte-keyed
    * operator downstream depends on: the SAME user-visible string can
    * arrive as composed ("é") or decomposed ("e"+U+0301) Unicode, with
    * stray control characters and runs of spaces, and exact dedup's md5,
    * shingle hashing, BPE's character split, and the PII regexes all
    * treat those variants as DIFFERENT documents unless ingestion
    * normalizes first. Chain: NFC (the native codegen'd
    * [[graft.functions.NfcNormalize]] expression — no UDF, stays inside
    * whole-stage codegen; DuckDB's own `nfc_normalize` is the oracle
    * twin), control characters → space, space runs collapsed, ends
    * trimmed. Output: (idCol, norm_md5, n_chars, changed) — the
    * fingerprint downstream dedup should key on, plus the audit flag.
    *
    * Scan-side only (no shuffle, no join), so the pass is free to fuse
    * into any ingest scan and is legal in a stateless streaming
    * projection as-is.
    */
  /** The normalization chain as a composable Column — so other
    * operators can key on canonical text directly (exact dedup over
    * `normalizeExpr` collapses byte-variant copies the raw md5 would
    * keep apart).
    */
  def normalizeExpr(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize.of(text),
        "[\\x00-\\x1f\\x7f]", " "),
      " +", " "))

  def normalizeDocs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val cleaned = normalizeExpr(col(textCol))
    docs.select(col(idCol),
      md5(cleaned).as("norm_md5"),
      length(cleaned).cast("long").as("n_chars"),
      (cleaned =!= col(textCol)).as("changed"))
  }

  /** STREAMING face of the BLOOM probe — [[contaminationInline]]'s shape
    * fed by [[evalShingleBloom]]'s at-rest artifact instead of the exact
    * literal map: document shingles derive in one scan-side HOF and each
    * probes the filter literal via the native `BloomFilterMightContain`
    * inside a lambda — no explode, no join, no aggregation, so the probe
    * is legal in a stateless streaming projection. This is the form that
    * scales where the literal map stops: the exact map grows with the
    * eval suite (and bloats every task binary), while the filter is
    * fixed-size at the chosen FPR however many benchmarks it covers.
    * Output-equal to [[contaminationBloomWith]] on the same rows — same
    * filter bytes, same distinct-shingle counting (spec-asserted over a
    * MemoryStream) — and inherits the one-sided-error contract: no false
    * negatives, bounded over-count.
    */
  def contaminationBloomInline(
      docs: DataFrame,
      bfBytes: Array[Byte],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(bfBytes != null && bfBytes.nonEmpty, "contaminationBloomInline: empty filter")
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    inlineProbe(docs, idCol, textCol)(s => GraftSqlBridge.column(
      BloomFilterMightContain(
        Literal(bfBytes, org.apache.spark.sql.types.BinaryType),
        GraftSqlBridge.expression(xxhash64(s)))))
  }

  /** The eval set's distinct shingles as a driver-side set (the literal
    * [[contaminationInline]] consumes). A benchmark is a BOUNDED set of
    * documents, so this collect is control-plane configuration, not a
    * data-plane bottleneck — same contract as [[contamination]]'s
    * broadcast of the identical rows.
    */
  def evalShingleSet(
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): Set[String] =
    Dedup.shingleRows(evalDocs, idCol, textCol)
      .select("sh").distinct().collect().map(_.getString(0)).toSet

  /** Linear text-classifier INFERENCE — the model-based quality-filter
    * pass (fastText-style "educational value" / quality classifiers) that
    * sits next to the rule-based [[gopherFilter]] in every pretraining
    * pipeline: score(doc) = bias + mean token weight, against a trained
    * bag-of-words model supplied as a (token, w_milli) table. Training
    * happens offline; what the engine owes the pipeline is inference over
    * 100 TB, exactly like the rule filters — integer milli fixed-point so
    * the decision is deterministic and oracle-replicable.
    *
    * Scale shape: the MODEL broadcasts (1e5..1e7 rows — never
    * corpus-sized); tokens explode scan-side and take their weight from
    * the broadcast join (text never shuffles), and the per-doc mean is one
    * doc-keyed aggregation with map-side partials. Unknown tokens weigh 0;
    * zero-token docs score `bias`. Weight sums can be negative: the mean
    * truncates toward zero, which Spark `div` and DuckDB `//` agree on
    * for BOTH signs (verified — both are truncating, not flooring).
    *
    * A duplicated model row would double-count its token, so the model is
    * uniqueness-guarded the [[Sampling.stratifiedByRate]] way: literal
    * local tables validate driver-side for free; anything else gets the
    * in-plan single-aggregate flag.
    */
  def classifierScore(
      docs: DataFrame,
      weights: DataFrame,
      biasMilli: Long = 0L,
      keepThresholdMilli: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(weights.columns.toSeq == Seq("token", "w_milli"),
      s"weights must have columns (token, w_milli), got ${weights.columns.mkString(", ")}")
    val guarded = weights.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        val i = lr.output.indexWhere(_.name == "token")
        val keys = lr.data.map(_.get(i, lr.output(i).dataType))
        require(keys.distinct.size == keys.size,
          "classifierScore: duplicate model rows - one w_milli per token required")
        weights
      case _ =>
        val dupFlag = weights.agg(count(lit(1)).as("__n"),
          size(collect_set(col("token"))).cast("long").as("__d"))
        weights.crossJoin(broadcast(dupFlag))
          .withColumn("w_milli", when(col("__n") =!= col("__d"),
              expr("cast(raise_error('classifierScore: duplicate model rows - one w_milli per token required') as bigint)"))
            .otherwise(col("w_milli")))
          .drop("__n", "__d")
    }
    val agg = docs
      .select(col(idCol), explode_outer(expr(toksS(textCol))).as("t"))
      .join(broadcast(guarded.withColumnRenamed("token", "t")), Seq("t"), "left")
      .groupBy(idCol)
      .agg(count(col("t")).as("n_tok"),
        coalesce(sum("w_milli"), lit(0L)).as("__wsum"))
    agg
      .withColumn("score_milli",
        expr(s"${biasMilli}L + __wsum div greatest(n_tok, 1)"))
      .select(col(idCol), col("n_tok"), col("score_milli"),
        (col("score_milli") >= keepThresholdMilli).as("keep"))
  }

  /** [[classifierScore]] as a pure per-row projection — the STREAMING-SAFE
    * form: the model rides as a map literal and the score is one
    * `aggregate` HOF over the row's own tokens, so there is no join and no
    * aggregation state. Use it to score documents at INGEST (a stateless
    * `readStream` projection composable with [[graft.streaming.StreamDedup]])
    * or wherever the model is small enough to inline in the plan (~1e4
    * entries; past that the plan itself bloats — use the broadcast-join
    * [[classifierScore]], which handles 1e7-row models).
    *
    * Output-equal to [[classifierScore]] on the same model (spec-asserted).
    */
  def classifierScoreInline(
      docs: DataFrame,
      weights: Map[String, Long],
      biasMilli: Long = 0L,
      keepThresholdMilli: Long = 0L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    classifierColumns(docs, weights, biasMilli, keepThresholdMilli, textCol)
      .select(col(idCol), col("n_tok"), col("score_milli"), col("keep"))

  /** [[classifierScoreInline]]'s column-preserving core: appends (n_tok,
    * score_milli, keep) to the input row instead of projecting them out —
    * the form streaming compositions need (a streaming frame cannot
    * self-join its own scores back without a stream-stream join).
    */
  private[graft] def classifierColumns(
      docs: DataFrame,
      weights: Map[String, Long],
      biasMilli: Long,
      keepThresholdMilli: Long,
      textCol: String): DataFrame = {
    require(weights.nonEmpty, "classifierScoreInline: weights must be non-empty")
    docs
      .withColumn("__toks", expr(toksS(textCol)))
      .withColumn("n_tok", size(col("__toks")).cast("long"))
      .withColumn("__wsum", aggregate(col("__toks"), lit(0L),
        (acc, t) => acc + coalesce(element_at(typedLit(weights), t), lit(0L))))
      .withColumn("score_milli", expr(s"${biasMilli}L + __wsum div greatest(n_tok, 1)"))
      .withColumn("keep", col("score_milli") >= keepThresholdMilli)
      .drop("__toks", "__wsum")
  }

  /** Corpus vocabulary head: the `topK` tokens by occurrence count with
    * each token's cumulative corpus-coverage share in ppm — the curve a
    * tokenizer-training / vocab-sizing decision reads ("how much of the
    * corpus do the first N entries cover"). Ties break lexically so the
    * ranking is total and deterministic.
    *
    * Scale shape: ONE map-side-partial token-count aggregation (vocab-
    * sized output, never corpus-sized), a TakeOrdered top-K (no full
    * sort), and the running coverage sum runs over K rows only — the
    * single-partition window is bounded by `topK`, never by vocab size.
    */
  def vocabCoverage(
      docs: DataFrame,
      topK: Int = 100,
      idCol: String = "doc_id",
      textCol: String = "text",
      tokenizer: String => Column = c => expr(toksS(c))): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    // tokenizer swaps the token stream the curve is computed over —
    // e.g. Bpe.syms for the SUBWORD vocab-sizing curve (the one a
    // tokenizer-training decision actually reads)
    val counts = docs.select(explode(tokenizer(textCol)).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("__total"))
    val top = counts.orderBy(col("cnt").desc, col("t")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("t"))
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_ppm",
        expr("sum(cnt) over (order by cnt desc, t rows between unbounded preceding and current row) * 1000000L div __total"))
      .select(col("rank"), col("t").as("token"), col("cnt"), col("cum_ppm"))
  }

  /** Bigram-LM transition surprisal — the 2-gram step up from
    * [[surprisalStats]] and the closest integer-exact proxy for the
    * perplexity filters real pipelines run: each transition scores the
    * integer log2 of its inverse conditional frequency,
    * `bitlen(c(prev,·)) - bitlen(c(prev,cur))` (how surprising is `cur`
    * after `prev`, corpus-wide), and a document reports the mean over its
    * transitions in milli units. Low = formulaic/repetitive phrasing,
    * high = incoherent token streams — the band-pass both Gopher-style
    * and perplexity-based cleaning apply.
    *
    * Scale shape: ONE per-doc lead window builds the transition stream;
    * bigram and left-context counts are vocab²-bounded aggregates joined
    * back on fixed-width token keys (the inverted-index path — neither
    * broadcasts); the final mean is one doc-keyed aggregation. Documents
    * with fewer than 2 tokens report 0 transitions, never vanish.
    */
  def bigramSurprisalStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    val bg = docs
      .select(col(idCol), posexplode(expr(toksS(textCol))).as(Seq("pos", "p")))
      .withColumn("c", lead("p", 1).over(perDoc))
      .where(col("c").isNotNull)
      .select(col(idCol), col("p"), col("c"))
    val bc = bg.groupBy("p", "c").agg(count(lit(1)).as("__bc"))
    val lc = bg.groupBy("p").agg(count(lit(1)).as("__lc"))
    val agg = bg
      .join(bc, Seq("p", "c"))
      .join(lc, Seq("p"))
      .withColumn("__s", expr("length(bin(__lc)) - length(bin(__bc))"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trans"), sum(col("__s")).cast("long").as("__ss"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        expr("coalesce(__ss, 0L) * 1000L DIV greatest(coalesce(n_trans, 0L), 1)")
          .as("mean_surprisal_milli"))
  }

  /** Per-document TF-IDF keyword extraction: the `topK` tokens of each
    * document by `tf * idf_bits`, where idf_bits is the integer log2 of
    * inverse DOCUMENT frequency (bit-length arithmetic, the
    * [[surprisalStats]] convention — exact in both engines, no float log).
    * Ties break (score desc, token asc) so the ranking is total. The
    * per-doc keyword list is what search indexing, tagging, and
    * cluster-labeling passes consume.
    *
    * Scale shape: distinct-per-doc token rows → one vocab-keyed df
    * aggregate (vocab-sized, map-side partials) joined back on the token
    * key (inverted-index path, like [[surprisalStats]] — the df table
    * does NOT broadcast at 100 TB), then a per-doc rank window whose
    * literal `<= topK` filter pushes a WindowGroupLimit below the
    * exchange — map tasks keep topK rows per doc before any shuffle.
    */
  def tfidfKeywords(
      docs: DataFrame,
      topK: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val toks = docs.select(col(idCol), explode(expr(toksS(textCol))).as("t"))
    val tf = toks.groupBy(col(idCol), col("t")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("__df"))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("t"))
    tf.join(df, "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * (length(bin(__n)) - length(bin(__df)))"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("rank"), col("t").as("token"),
        col("score").cast("long").as("score"))
  }

  /** Unigram-LM surprisal scoring — the corpus-statistics stand-in for
    * perplexity filtering: each token's surprisal is the integer log2 of
    * its inverse corpus frequency, approximated EXACTLY (bit-length
    * arithmetic — `len(bin(total)) - len(bin(cnt))`, no floats, so both
    * engines compute the identical score), and a document scores the mean
    * surprisal of its tokens in milli units. Low = boilerplate-like
    * (frequent tokens), high = rare-token-heavy (OCR noise, gibberish) —
    * pipelines band-pass on this exactly like model perplexity.
    *
    * Scale shape: the token-count table is vocab-sized, NOT broadcast —
    * the exploded corpus joins it by token (shuffle on the fixed-width
    * token key: the inverted-index access path), then one doc-keyed mean.
    * Two shuffles total, both map-side-partial aggregations.
    */
  /** Milli-precision integer log2: `1000·⌊log2 x⌋` plus a linear
    * interpolation of the fractional part — exact integer arithmetic
    * (`bin` length + shift + one division), so the value is
    * deterministic and cross-engine replayable where a float `log`
    * would drift. Monotone; x must be >= 1.
    */
  private def log2mS(x: String): String = {
    val k = s"(length(bin($x)) - 1)"
    val p = s"shiftleft(1L, $k)"
    s"(($k) * 1000L + (($x) - $p) * 1000L DIV $p)"
  }

  /** Deterministic multinomial NAIVE BAYES trainer — the TRAINED path
    * for the model-based quality filter (the [[classifierScore]] serving
    * form ships a frozen `(token, w_milli)` table; this is where such a
    * table comes FROM, completing the train→freeze→serve loop the
    * repo's other models have — KMeans centroids, PQ codebooks, BPE
    * merges). fastText-class pipelines (CCNet's LM filter, the
    * GPT-3/LLaMA curated-vs-crawl classifiers) train exactly this
    * shape: label a positive class (curated) and a negative (raw
    * crawl), learn per-token log-odds, keep docs the model scores
    * positive.
    *
    * One aggregation over the token stream (per-token class occurrence
    * counts, map-side combinable) + one broadcast of the 3-number
    * totals row: `w(t) = log2m(cnt_pos+1) − log2m(cnt_neg+1) +
    * log2m(tot_neg+V) − log2m(tot_pos+V)` — Laplace-smoothed
    * multinomial log-likelihood ratio in milli-log2 units
    * ([[log2mS]]: integer-exact, no float log). Served through
    * [[classifierScore]], whose mean-of-weights ≥ 0 decision equals
    * the NB sum ≥ 0 decision (equal-prior form; fold a prior into its
    * `biasMilli` if classes are imbalanced). NULL labels drop.
    * Output: (token, cnt_pos, cnt_neg, w_milli).
    */
  def nbTrainWeights(
      docs: DataFrame,
      labelCol: String = "label",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .where(col(labelCol).isNotNull)
      .select(col(labelCol).cast("boolean").as("__y"),
        explode(expr(toksS(textCol))).as("token"))
    val perTok = toks.groupBy("token").agg(
      sum(when(col("__y"), 1L).otherwise(0L)).as("cnt_pos"),
      sum(when(!col("__y"), 1L).otherwise(0L)).as("cnt_neg"))
    val tots = perTok.agg(
      sum("cnt_pos").as("__tp"), sum("cnt_neg").as("__tn"),
      count(lit(1)).as("__v"))
    perTok.crossJoin(broadcast(tots))
      .withColumn("w_milli", expr(
        s"${log2mS("cnt_pos + 1L")} - ${log2mS("cnt_neg + 1L")} + " +
          s"${log2mS("__tn + __v")} - ${log2mS("__tp + __v")}"))
      .select("token", "cnt_pos", "cnt_neg", "w_milli")
  }

  def surprisalStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), explode(expr(toksS(textCol))).as("t"))
    val counts = toks.groupBy("t").agg(count(lit(1)).as("__cnt"))
    val total = counts.agg(sum("__cnt").as("__total"))
    val agg = toks
      .join(counts, "t")
      .crossJoin(broadcast(total))
      .withColumn("__surp", expr("length(bin(__total)) - length(bin(__cnt))"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"),
        sum(col("__surp")).cast("long").as("__ssum"))
    docs.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        expr("coalesce(__ssum, 0L) * 1000L DIV greatest(coalesce(n_tok, 0L), 1)")
          .as("mean_surprisal_milli"))
  }
}
