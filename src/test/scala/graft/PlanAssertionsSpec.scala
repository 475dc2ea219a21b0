package graft

/** Plan-shape regression guards for the PLANS.md claims: pushdown, column
  * pruning, pre-shuffle top-k pruning, broadcast of small dimensions.
  * These assert the SHAPE Catalyst picks, so a refactor that silently
  * breaks pruning/pushdown fails here rather than only showing up as a
  * bench regression.
  */
class PlanAssertionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("qi_r2_daily: scan is column-pruned (unused ticks-view columns never read)") {
    val plan = planOf("qi_r2_daily")
    assert(plan.contains("ReadSchema"))
    // the daily OHLCV query needs user_id/ts/value/event_id only; the
    // event_type column (feeding currency/provider in the view) must be
    // pruned out of the parquet read
    assert(!plan.contains("event_type"), s"event_type not pruned:\n$plan")
  }

  test("qi_q5_revenue: filters pushed to the scan, dimension joins broadcast") {
    val plan = planOf("qi_q5_revenue")
    assert(plan.contains("PushedFilters: [IsNotNull") || plan.contains("PushedFilters: ["),
      s"no pushed filters:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("qi_topk: row_number<=k rewrites to pre-shuffle WindowGroupLimit pruning") {
    val plan = planOf("qi_topk")
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("qi_m1_merge: first-wins dedup also benefits from WindowGroupLimit") {
    val plan = planOf("qi_m1_merge")
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("ext_knn_lsh: bucketing uses the codegen'd vec_dot with literal hyperplanes, not interpreted HOFs") {
    val plan = planOf("ext_knn_lsh")
    assert(plan.contains("vec_dot"), s"native vec_dot missing:\n${plan.take(2000)}")
    // the r2 interpreted form showed aggregate(zip_with(...)) lambda plumbing
    assert(!plan.contains("lambdafunction"), "HOF lambda re-appeared in the LSH path")
  }

  test("ext_pack_chunks: exactly ONE hash exchange (the shard cumsum) beyond the presentation sort") {
    val plan = planOf("ext_pack_chunks")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"packing must shuffle the corpus once, on the shard key; got $hashExchanges:\n${plan.take(2000)}")
  }

  test("ext_pack_spans: shard cumsum + one (shard, chunk) aggregate — no other shuffles") {
    val plan = planOf("ext_pack_spans")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"chunk view must add at most the (shard, chunk_id) aggregate exchange; got $hashExchanges:\n${plan.take(2000)}")
    assert(plan.contains("Generate"), s"chunk-range explode missing:\n${plan.take(1500)}")
  }

  test("ext_sample_stratified: scan-side predicate + broadcast rates — only the presentation sort shuffles") {
    val plan = planOf("ext_sample_stratified")
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the corpus must not hash-shuffle for a scan-side sample:\n$plan")
  }

  test("ext_bm25: query-term filter sits below the tf aggregate (inverted-index path), top-k prunes") {
    val plan = planOf("ext_bm25")
    assert(plan.contains("IN (spark,join,window)"), s"term filter missing:\n$plan")
    // the filter must appear scan-side: deeper in the printed tree than
    // the tf aggregate (deeper nodes print LATER)
    val filterIdx = plan.indexOf("IN (spark,join,window)")
    val firstAggIdx = plan.indexOf("HashAggregate")
    assert(firstAggIdx >= 0, s"tf aggregate missing from the plan:\n$plan")
    assert(firstAggIdx < filterIdx,
      "filter must be UNDER the aggregates in the printed tree (scan side)")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k must prune, not global-sort:\n$plan")
  }

  test("AsOfJoin: exactly ONE exchange, and no join node at all") {
    import spark.implicits._
    val left = Seq(("aa", 10L, 1L)).toDF("k", "ts", "lval")
    val right = Seq(("aa", 5L, 2L)).toDF("k", "ts", "p1")
    val plan = graft.operators.AsOfJoin
      .backward(left, right, Seq("k"), "ts", "ts", Seq("p1"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"as-of must be the union-carry form, not a join:\n$plan")
  }

  test("RangeJoin: plans a shuffled equi-join, never BroadcastNestedLoopJoin") {
    import spark.implicits._
    val points = Seq(("aa", 10L, 1L)).toDF("k", "ts", "v")
    val intervals = Seq(("aa", 5L, 15L)).toDF("k", "s", "e")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // big-side × big-side: the 100 TB shape
      val plan = graft.operators.RangeJoin
        .pointInInterval(points, intervals, Seq("k"), "ts", "s", "e", 7L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"banded rewrite degenerated to a product join:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("intervalOverlap: plans a shuffled equi-join, never BroadcastNestedLoopJoin") {
    import spark.implicits._
    val a = Seq(("aa", 5L, 15L, 1L)).toDF("k", "s", "e", "id")
    val b = Seq(("aa", 10L, 20L, 2L)).toDF("k", "s", "e", "id")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // big × big: the 100 TB shape
      val plan = graft.operators.RangeJoin
        .intervalOverlap(a, b, Seq("k"), "s", "e", "s", "e", 7L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"banded overlap rewrite degenerated to a product join:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("qi_h9_keepna: the NA filter reaches the aggregation input (no post-agg filtering)") {
    val plan = planOf("qi_h9_keepna")
    // dropna is a pre-aggregation Filter; HashAggregate must appear above it
    val filterIdx = plan.indexOf("Filter")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(filterIdx >= 0 && aggIdx >= 0)
  }

  test("ext_dedup_substr: ONE gram derivation (single scan), no join — the linear 3-exchange pipeline") {
    val plan = planOf("ext_dedup_substr")
    // the groupBy-then-join-back form re-derives the whole expensive
    // scan→explode→window gram build under the aggregate; the window-count
    // form must read the corpus exactly once
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"gram stream must derive from ONE corpus scan, got $scans:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"duplicate scoring must not join back:\n${plan.take(2000)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 3,
      s"expected exactly (doc_id leads, gh count, doc_id islands) + presentation range; got $hashExchanges:\n${plan.take(2000)}")
  }

  test("ext_split: a pure scan-side projection — no hash exchange, no join anywhere") {
    val plan = planOf("ext_split")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"holdout labeling must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"holdout labeling must not join:\n${plan.take(2000)}")
  }

  test("ext_mixture_epochs: only the totals aggregate hash-exchanges; the fan-out is a scan-side Generate") {
    val plan = planOf("ext_mixture_epochs")
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast onto the corpus:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), s"nothing here may sort-merge:\n${plan.take(2000)}")
    assert(plan.contains("Generate"), s"epoch copies must explode scan-side:\n${plan.take(2000)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"only the tiny totals aggregate may hash-exchange; got $hashExchanges:\n${plan.take(2000)}")
  }

  test("minhashDedupIncremental: the store scan reads signatures only — the historical corpus text never rescans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // a store table that CARRIES text: the operator must column-prune it
    // out of the parquet read (at 100 TB the text is the corpus — reading
    // it would defeat the whole incremental design)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigstore").toString
    graft.pipeline.Dedup.minhashSignature(
        Seq((10L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text"))
      .withColumn("cluster_id", col("doc_id"))
      .withColumn("raw_text", lit("historical corpus text that must never be scanned"))
      .write.mode("overwrite").parquet(tmp)
    val store = spark.read.parquet(tmp)
    val batch = Seq((101L, "quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val plan = graft.pipeline.Dedup.minhashDedupIncremental(batch, store)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("raw_text"),
      s"store-side text column leaked into the scan:\n${plan.take(3000)}")
  }

  test("ext_dedup_incr: the store probe is a LEFT ANTI equi-join on the hash — text never joins") {
    val plan = planOf("ext_dedup_incr")
    assert(plan.contains("LeftAnti"), s"store probe must be an anti join:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"the probe must stay equi-keyed:\n${plan.take(2000)}")
  }

  test("ext_sample_exact: literal rank cap pushes WindowGroupLimit below the exchange") {
    val plan = planOf("ext_sample_exact")
    assert(plan.contains("WindowGroupLimit"),
      s"the max(n) literal must prune per-stratum ranks map-side:\n${plan.take(2000)}")
  }

  test("ext_keywords: the literal top-k filter prunes per-doc ranks map-side (WindowGroupLimit)") {
    val plan = planOf("ext_keywords")
    assert(plan.contains("WindowGroupLimit"),
      s"rank <= topK must prune before the per-doc window:\n${plan.take(2000)}")
  }

  test("ext_classifier: the model broadcasts onto the token stream — corpus text never shuffles for the join") {
    val plan = planOf("ext_classifier")
    assert(plan.contains("BroadcastHashJoin"), s"model weights must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), s"the token-weight join must not sort-merge:\n${plan.take(2000)}")
  }

  test("BPE per-document queries: one projection over the kernel — no Generate, no join, one Exchange (the presentation sort)") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val helper = new AdaptiveSparkPlanHelper {}
    Seq("ext_bpe_encode", "ext_bpe_decode", "ext_bpe_bytes", "ext_bpe_trained").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      def nodes(p: PartialFunction[SparkPlan, SparkPlan]) = helper.collect(plan)(p).size
      assert(nodes { case g: GenerateExec => g } == 0, s"$q explodes documents into words:\n$plan")
      assert(nodes { case j: BaseJoinExec => j } == 0, s"$q joins:\n$plan")
      assert(nodes { case e: Exchange => e } == 1, s"$q shuffles beyond the presentation sort:\n$plan")
    }
  }

  test("ext_bpe_vocab: dictionary path — two vocab-sized aggregates, top-K prunes") {
    val plan = planOf("ext_bpe_vocab")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must prune, not global-sort:\n${plan.take(2000)}")
    // the kernel's symbols are counted with map-side partials, and that
    // one aggregate appears twice in the printed plan — the counts subtree
    // feeds both the grand-total and top-K branches and Spark shares no
    // subplans; the point of the guard: every exchange is VOCAB-sized
    // (post-agg), never an exchange of corpus rows
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"only the vocab-sized aggregates may exchange; got $hashExchanges:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), "nothing here may sort-merge the corpus")
  }

  test("ext_vocab_coverage: top-K is a TakeOrdered, never a full vocab sort") {
    val plan = planOf("ext_vocab_coverage")
    assert(plan.contains("TakeOrderedAndProject"), s"top-K must prune before sorting the vocab:\n${plan.take(2000)}")
  }

  test("ext_semdedup: cell assignment is scan-side; the pair join is cell-equi, never nested-loop") {
    val plan = planOf("ext_semdedup")
    // the blocking step must be an equi-join on the cell id — an
    // unblocked all-pairs comparison would plan BroadcastNestedLoopJoin
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"pair generation must block on cells:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), s"pair generation must block on cells:\n${plan.take(2000)}")
  }

  test("ext_mixture_budget: derived rates broadcast; the corpus keep-filter is scan-side") {
    val plan = planOf("ext_mixture_budget")
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"nothing here may sort-merge:\n$plan")
    // the only hashpartitioning exchange is the per-stratum totals
    // aggregate (map-side partials, #strata rows) — the corpus itself
    // never hash-shuffles
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"only the tiny totals aggregate may hash-exchange; got $hashExchanges:\n${plan.take(2000)}")
  }

  test("ext_mixture_temp: weights broadcast like the budget mixture — the corpus never hash-shuffles") {
    val plan = planOf("ext_mixture_temp")
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"nothing here may sort-merge:\n$plan")
    // totals aggregate (#strata rows) is the only hash exchange; the
    // weight-sum reduction is a single-row broadcast on top of it
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"only the tiny totals aggregate may hash-exchange; got $hashExchanges:\n${plan.take(2000)}")
  }

  test("ext_token_cap: the bucket prefilter sits below the running-sum window") {
    val plan = planOf("ext_token_cap")
    // the whole point of the margin prefilter: the per-stratum sequential
    // window must sort only the pre-pruned survivor set, so the Filter on
    // __bucket/__cut must appear DEEPER in the plan than the Window node
    val winAt = plan.indexOf("Window")
    val filterAt = plan.indexOf("__cut")
    assert(winAt >= 0 && filterAt >= 0, s"expected window + cutoff filter:\n${plan.take(2000)}")
    assert(filterAt > winAt,
      s"bucket cutoff filter must run below (after in plan text) the window:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), s"caps/totals must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n$plan")
  }

  test("ext_corpus_build: stage seams cache, rates broadcast, nothing degenerates to cartesian") {
    val plan = planOf("ext_corpus_build")
    // the persisted kept/token frames must actually serve the downstream
    // stages (without them every verdict join re-runs its upstream stages)
    assert(plan.contains("InMemoryTableScan"),
      s"stage-boundary caches missing from the plan:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n${plan.take(2000)}")
  }

  test("ext_curriculum: bin table broadcasts onto the corpus; no corpus-wide global sort") {
    val plan = planOf("ext_curriculum")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (score -> bin) table must broadcast:\n${plan.take(2000)}")
    // the distribution window runs over the HISTOGRAM aggregate, so the
    // plan must contain an aggregate below the single-partition window —
    // never a Window directly over the corpus-sized scored frame
    assert(!plan.contains("CartesianProduct"), s"no cartesian allowed:\n${plan.take(2000)}")
    assert(plan.contains("HashAggregate"),
      s"histogram aggregate missing (global ntile would have none):\n${plan.take(2000)}")
  }

  test("ext_interleave: position window partitions by (shard, stratum) — never a global order") {
    val plan = planOf("ext_interleave")
    assert(plan.contains("hashpartitioning(shard"),
      s"interleave window must partition by shard:\n${plan.take(2000)}")
  }

  test("ext_dedup_priority: one window on the text hash; priorities are a literal lookup, no extra join") {
    val plan = planOf("ext_dedup_priority")
    assert(plan.contains("hashpartitioning(h"),
      s"keeper window must partition by the hash:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"the literal priority map must not become a join:\n${plan.take(2000)}")
  }

  test("ext_shard_order: the position window partitions by shard — never a global single-partition sort") {
    val plan = planOf("ext_shard_order")
    // a Window with an empty partition spec renders as
    // "Window [...], [order...]" with no partition list and logs the
    // single-partition warning; the shard-partitioned form shows
    // "windowpartitionby" via hashpartitioning(shard...)
    assert(plan.contains("hashpartitioning(shard"),
      s"position window must partition by shard:\n${plan.take(2000)}")
  }

  test("pqKnnOf: the pre-encoded probe never reads the float embedding store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the at-rest claim: codes are written once (64x smaller) and the probe
    // reads ONLY them — a plan that reaches back to the float column defeats
    // the compression entirely at 100 TB
    val tmp = java.nio.file.Files.createTempDirectory("graft_pqcodes").toString
    val rnd = new scala.util.Random(3)
    val emb = (0L until 20L).map(i => (i, Array.fill(64)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "embedding")
    graft.pipeline.Similarity.pqEncode(emb)
      .join(emb, "vec_id") // codes AND floats at rest, like a widened store
      .write.mode("overwrite").parquet(tmp)
    val store = spark.read.parquet(tmp)
    val queries = emb.filter(col("vec_id") < 2)
    val plan = graft.pipeline.Similarity.pqKnnOf(store, queries, 3)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("graft_pqcodes")).mkString("\n")
    assert(!scans.contains("embedding"),
      s"PQ probe leaked the float column into the store scan:\n$scans")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoop"),
      s"query LUTs must broadcast:\n${plan.take(2000)}")
  }

  test("ext_extract_text: scan-side regex+HOF extraction — no hash exchange, no join before presentation") {
    val plan = planOf("ext_extract_text")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"markup extraction must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"markup extraction must not join:\n${plan.take(2000)}")
  }

  test("ext_url_normalize: canonicalization is a pure scan-side projection") {
    val plan = planOf("ext_url_normalize")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"URL canonicalization must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"URL canonicalization must not join:\n${plan.take(2000)}")
  }

  test("ext_domain_cap: exactly ONE hash exchange (the per-domain window) beyond presentation") {
    val plan = planOf("ext_domain_cap")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"the domain cap is one window; got $hashExchanges hash exchanges:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"the cap must not join:\n${plan.take(2000)}")
  }

  test("ext_decontaminate_fuzzy: eval bands and signatures broadcast — the corpus side never sort-merges against the benchmark") {
    val plan = planOf("ext_decontaminate_fuzzy")
    assert(plan.contains("BroadcastHashJoin"),
      s"eval side must broadcast:\n${plan.take(2000)}")
  }

  test("ivfPqKnnOf: probe is a broadcast equi-join on the cell — the encoded store never shuffles") {
    import org.apache.spark.sql.functions.col
    val emb = graft.tables.Tables.embeddings(spark, dir)
    val enc = graft.pipeline.Similarity.ivfPqEncode(emb,
      graft.pipeline.Similarity.refIvfCentroids,
      graft.pipeline.Similarity.refResidualPqCodebooks)
    val plan = graft.pipeline.Similarity.ivfPqKnnOf(enc,
        emb.filter(col("vec_id") < 2), 3,
        graft.pipeline.Similarity.refIvfCentroids,
        graft.pipeline.Similarity.refResidualPqCodebooks)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"queries must broadcast onto the encoded corpus:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the probe:\n${plan.take(2000)}")
  }

  test("ext_image_phash: hashing is scan-side — payload bytes never shuffle (presentation sort only)") {
    val plan = planOf("ext_image_phash")
    assert(!plan.contains("Join"), s"phash extraction must not join:\n${plan.take(2000)}")
    // the only exchange is the orderBy's range partitioning; no hash
    // exchange means no aggregation/join ever moves the payload
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no hash exchange may touch the media stream:\n${plan.take(2000)}")
  }

  test("ext_hard_negatives: the epoch-sized query side broadcasts — the corpus never shuffles for scoring") {
    val plan = planOf("ext_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the bounded query side must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against the mining batch:\n${plan.take(2000)}")
  }

  test("ext_hard_negatives_ivf: celled mining is equi-joined on the cell id — no cartesian") {
    val plan = planOf("ext_hard_negatives_ivf")
    assert(!plan.contains("CartesianProduct"),
      s"celled hard-negative mining must never pair all-to-all:\n${plan.take(2000)}")
  }

  test("ext_bitext_margin_ivf: candidate generation is equi-joined on the cell id — no cartesian anywhere") {
    val plan = planOf("ext_bitext_margin_ivf")
    assert(!plan.contains("CartesianProduct"),
      s"celled margin mining must never pair all-to-all:\n${plan.take(2000)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"celled margin mining must not nested-loop either side:\n${plan.take(2000)}")
  }

  test("ext_audio_fp: fingerprinting is scan-side — payload bytes never shuffle") {
    val plan = planOf("ext_audio_fp")
    assert(!plan.contains("Join"), s"fingerprint extraction must not join:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"no hash exchange may touch the media stream:\n${plan.take(2000)}")
  }

  test("ext_link_graph: scan-side extraction + ONE partial-aggregated exchange, no join") {
    val plan = planOf("ext_link_graph")
    assert(!plan.contains("Join"), s"the edge list must not join:\n${plan.take(2000)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"edges are one aggregation keyed by (src, dst); got $hashExchanges hash exchanges:\n${plan.take(2000)}")
    // map-side combine: only fixed-width partial counts cross the wire
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"the count must partial-aggregate before the exchange:\n${plan.take(2000)}")
  }

  test("ext_pagerank: iterations re-read the persisted edges, never re-extract") {
    // each of the 5 iterations equi-joins the fixed-width rank table
    // against the persisted edge list on `node` — a keyed shuffle join
    // is the CORRECT strategy at domain-graph scale (1e8-row rank
    // tables don't broadcast), so the join flavor is AQE's call; the
    // load-bearing invariants are that the corpus-side extraction runs
    // once (everything downstream reads the InMemoryRelation) and no
    // iteration degenerates to a cartesian product
    val plan = planOf("ext_pagerank")
    assert(plan.contains("InMemoryTableScan"),
      s"the edge list must be persisted and re-read, not re-derived per iteration:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"iteration joins must be keyed:\n${plan.take(2000)}")
    // the href-extraction regex must not appear in the iteration body —
    // it lives only inside the cached relation's build subtree
    val body = plan.substring(0, math.max(plan.indexOf("InMemoryRelation"), 0))
    assert(!body.contains("regexp_extract_all"),
      s"extraction leaked out of the cached subtree:\n${body.take(2000)}")
  }

  test("ext_image_incr: the probe batch broadcasts — the fingerprint store never shuffles") {
    val plan = planOf("ext_image_incr")
    assert(plan.contains("BroadcastHashJoin"),
      s"the arrival-sized probe must broadcast onto the store:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the store side must not sort-merge:\n${plan.take(2000)}")
  }

  test("ext_fetch_schedule: the model-sized delay table broadcasts; one window sequences the frontier") {
    val plan = planOf("ext_fetch_schedule")
    assert(plan.contains("BroadcastHashJoin"),
      s"the crawl-delay table must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the frontier must not shuffle against the delay table:\n${plan.take(2000)}")
  }

  test("ext_robots_wildcard: the pattern matcher is the native kernel, no regex in the decision plan") {
    val plan = planOf("ext_robots_wildcard")
    assert(plan.contains("robots_match"), s"native robots_match missing:\n${plan.take(2000)}")
    assert(!plan.contains("RLike") && !plan.contains("rlike"),
      s"a regex crept into the decision path:\n${plan.take(2000)}")
  }

  test("ext_nb_train: one token aggregate + the broadcast totals row — no extra corpus shuffles") {
    val plan = planOf("ext_nb_train")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"the 3-number totals row must broadcast:\n${plan.take(2000)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 2,
      s"training must shuffle on the token key only (+ at most the totals agg); got $hashExchanges:\n${plan.take(2000)}")
  }

  test("ext_distinct_kmv: the sketch is partial-aggregated map-side (one exchange on the group key)") {
    val plan = planOf("ext_distinct_kmv")
    assert(plan.contains("kmv_distinct"), s"native aggregate missing:\n${plan.take(2000)}")
    // the sketch must appear in a PARTIAL aggregation node (map-side
    // combine) — an ObjectHashAggregate/SortAggregate with partial mode
    // below the exchange
    val partialIdx = plan.indexOf("partial_kmv_distinct")
    assert(partialIdx >= 0, s"no map-side partial sketch:\n${plan.take(3000)}")
  }

  test("ext_sitemap_urls: expansion is keyed equi-joins — no cartesian, no regex; the parse is the JVM walk") {
    val plan = planOf("ext_sitemap_urls")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"sitemap expansion must join on (host, sitemap key):\n${plan.take(2000)}")
    // the XML parse itself is the mapPartitions walk: the only regex in
    // the plan is hostOf/canonicalUrl's own URL-structure extraction
    assert(!plan.contains("RLike"),
      s"no pattern matching belongs in the sitemap plan:\n${plan.take(2000)}")
  }

  test("ext_recrawl_due: the whole chain shuffles on the URL key only") {
    val plan = planOf("ext_recrawl_due")
    assert(!plan.contains("CartesianProduct"),
      s"recrawl joins must be keyed:\n${plan.take(2000)}")
    // windows, the rollup and the prior/median joins all key on url —
    // one partitioning end to end, so few distinct hash exchanges
    val hashExchanges = "Exchange hashpartitioning\\(url".r.findAllIn(plan).size
    val otherExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size - hashExchanges
    assert(otherExchanges == 0,
      s"recrawl must not shuffle on any non-url key ($otherExchanges found):\n${plan.take(3000)}")
  }

  test("ext_knn_dim_recall: the rotation is the native codegen kernel, queries broadcast") {
    val plan = planOf("ext_knn_dim_recall")
    assert(plan.contains("mat_vec_floor"),
      s"the trained rotation must serve through the native MatVecFloor node:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 10-query side must broadcast onto the corpus:\n${plan.take(2000)}")
  }

  test("ext_robots_pct: targets normalize through the native kernel; the decision stays regex-free") {
    val plan = planOf("ext_robots_pct")
    assert(plan.contains("robots_pct_normalize"),
      s"the 2.2.2 normalization must be the native node:\n${plan.take(2000)}")
    assert(plan.contains("robots_match"), s"native robots_match missing:\n${plan.take(2000)}")
    assert(!plan.contains("RLike") && !plan.contains("rlike"),
      s"a regex crept into the decision path:\n${plan.take(2000)}")
  }

  test("ext_frontier_bloom: the filter probe is in the plan and misses bypass the join scan-side") {
    val plan = planOf("ext_frontier_bloom")
    assert(plan.contains("might_contain"),
      s"the bloom probe must gate the anti-join:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the hit-set anti-join must stay keyed:\n${plan.take(2000)}")
  }

  test("ext_frontier_bloom_shard: the sharded probe is in the plan and stays keyed") {
    val plan = planOf("ext_frontier_bloom_shard")
    assert(plan.contains("sharded_bloom_might_contain"),
      s"the shard-family probe must gate the anti-join:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the hit-set anti-join must stay keyed:\n${plan.take(2000)}")
  }

  test("ext_frontier_store: the membership store reads its buckets — no store-side re-shuffle in the shipped plan") {
    // broadcast off: at fixture scale the tiny store would broadcast
    // (legitimate there), but the guarded property is the 10^9-URL
    // shape, where only sort-merge is possible. The query EXECUTES
    // first so the guard reads AQE's FINAL plan (pre-execution the
    // AdaptiveSparkPlan prints only the initial tree — a store-side
    // exchange introduced by runtime re-planning would hide from it);
    // post-execution toString repeats the tree as "== Initial Plan ==",
    // so keep the final section only
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try {
        val df = graft.SparkEntry.queries("ext_frontier_store")(spark, dir)
        df.collect()
        df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(plan.contains("Bucketed: true") && plan.contains("SelectedBucketsCount"),
      s"the staged crawled_store must scan as a bucketed table:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the anti-join must stay keyed:\n${plan.take(2000)}")
    // walk the bucketed scan's ANCESTOR CHAIN up to its join: none of
    // the ancestors may be an exchange (a distinct/repartition slipped
    // above the store read would reintroduce the store-side shuffle
    // while the UrlOpsSpec synthetic-table guard stayed green). The
    // printed tree indents each child by 3 ("+- "/":- "), so the parent
    // of a line at indent d is the nearest PRECEDING line at d - 3.
    val lines = plan.split("\n")
    def indentOf(l: String): Int = {
      val i = math.max(l.indexOf("+- "), l.indexOf(":- "))
      i // -1 for root-level lines
    }
    val scanIdx = lines.indexWhere(_.contains("Bucketed: true"))
    assert(scanIdx >= 0)
    var d = indentOf(lines(scanIdx))
    var j = scanIdx - 1
    var reachedJoin = false
    while (j >= 0 && !reachedJoin && d > 0) {
      val li = indentOf(lines(j))
      if (li >= 0 && li < d) { // an ancestor
        assert(!lines(j).contains("Exchange hashpartitioning"),
          s"the store-side ancestor chain must carry no exchange:\n${lines(j)}\n${plan.take(3000)}")
        d = li
        if (lines(j).contains("SortMergeJoin")) reachedJoin = true
      }
      j -= 1
    }
    assert(reachedJoin, s"bucketed scan must feed a sort-merge anti-join:\n${plan.take(3000)}")
  }

  test("ext_frontier_priority: budgeted top-k prunes map-side; delay table broadcasts; keyed joins only") {
    val plan = planOf("ext_frontier_priority")
    assert(plan.contains("WindowGroupLimit"),
      s"the per-host budget must prune map-side:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the crawl-delay table must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"priority joins must stay keyed:\n${plan.take(2000)}")
  }

  test("ext_trap_cap: the slot<=cap filter rewrites to WindowGroupLimit (map-side template pruning)") {
    val plan = planOf("ext_trap_cap")
    assert(plan.contains("WindowGroupLimit"),
      s"hot templates must prune map-side before the shuffle:\n${plan.take(2000)}")
  }

  test("ext_frontier_full: three channels, one schedule — delay table broadcasts, no cartesian") {
    val plan = planOf("ext_frontier_full")
    assert(plan.contains("BroadcastHashJoin"),
      s"the crawl-delay table must broadcast:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"),
      s"channel union/anti-join must stay keyed:\n${plan.take(2000)}")
  }

  test("ext_recrawl_304: the conditional-fetch chain keeps the url-key-only shuffle shape") {
    val plan = planOf("ext_recrawl_304")
    assert(!plan.contains("CartesianProduct"),
      s"recrawl joins must be keyed:\n${plan.take(2000)}")
    // the 304 carry-forward fill rides the SAME url window as change
    // marking — no new partitioning appears
    val urlExchanges = "Exchange hashpartitioning\\(url".r.findAllIn(plan).size
    val otherExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size - urlExchanges
    assert(otherExchanges == 0,
      s"the 304 arm must not shuffle on any non-url key ($otherExchanges found):\n${plan.take(3000)}")
  }

  test("ext_fetch_validators: one url-keyed aggregation, partial map-side") {
    val plan = planOf("ext_fetch_validators")
    val urlExchanges = "Exchange hashpartitioning\\(url".r.findAllIn(plan).size
    val otherExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size - urlExchanges
    assert(urlExchanges <= 1 && otherExchanges == 0,
      s"validators are ONE url-keyed aggregation ($urlExchanges url + $otherExchanges other):\n${plan.take(3000)}")
    assert(plan.contains("partial"),
      s"the validator election must partial-aggregate map-side:\n${plan.take(3000)}")
  }

  test("ext_bpe_trained: the merge chain runs in the native kernel, in no CodegenFallback node") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val df = SparkEntry.queries("ext_bpe_trained")(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    val helper = new AdaptiveSparkPlanHelper {}
    val kernelNodes = helper.collect(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.BpeCodec])) => p
    }
    assert(kernelNodes.nonEmpty, s"no BPE kernel in the plan:\n${df.queryExecution.executedPlan}")
    kernelNodes.foreach { p =>
      assert(!p.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback])),
        s"the kernel shares a CodegenFallback node:\n$p")
    }
  }
}
