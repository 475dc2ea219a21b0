package graft.pipeline

import graft.SparkSpec
import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The staged-shingle-table path (ShingleStage + *Of variants) must be a
  * pure optimization: identical results to the derive-per-query forms, and
  * the staged doc-id aggregations must read the buckets co-located — no
  * exchange in the signature plan.
  */
class DedupStageSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs: DataFrame = Tables.documents(spark, dir).select("doc_id", "text")

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("staged minhash near-dups == derive-per-query minhash near-dups") {
    val staged = ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
    val got = rows(Dedup.minhashNearDupsOf(staged, 200000L))
    val want = rows(Dedup.minhashNearDupsOf(Dedup.shingleHashes(docs), 200000L))
    assert(got == want)
  }

  test("staged ngram Jaccard == derive-per-query ngram Jaccard (df-capped)") {
    val staged = ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
    val got = rows(Dedup.ngramJaccardPairsOf(staged.select("doc_id", "sh"), dfCap = 64L))
    val want = rows(Dedup.ngramJaccardPairsOf(Dedup.shingleRows(docs), dfCap = 64L))
    assert(got == want)
  }

  test("staged containment == derive-per-query containment (df-capped)") {
    val staged = ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
    val got = rows(Dedup.shingleContainmentOf(staged.select("doc_id", "sh"), 500000L, 64L))
    val want = rows(Dedup.shingleContainmentOf(Dedup.shingleRows(docs), 500000L, 64L))
    assert(got == want)
  }

  test("pre-blocked store == df-cap-per-query for ngram Jaccard AND containment (pure optimization)") {
    // the blockedStoreFor discipline: stage (sh ⋈ rare) once, call the
    // consumers with dfCap = 0 — must be value-identical to capping
    // inside each query
    val sh = Dedup.shingleRows(docs)
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df")).where(col("df") <= 64L)
    val blocked = sh.join(rare.select("sh"), "sh")
    assert(rows(Dedup.ngramJaccardPairsOf(blocked, dfCap = 0L))
      == rows(Dedup.ngramJaccardPairsOf(sh, dfCap = 64L)))
    assert(rows(Dedup.shingleContainmentOf(blocked, 500000L, 0L))
      == rows(Dedup.shingleContainmentOf(sh, 500000L, 64L)))
  }

  test("sh-bucketed blocked store: pairing self-join reads co-located buckets (no exchange under shuffle join)") {
    // blockedStoreFor's r22 layout: the staged blocked table is BUCKETED
    // AND SORTED on sh, the key both quadratic consumers self-join on
    val sh = ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
      .select("doc_id", "sh")
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df")).where(col("df") <= 64L)
    val blocked = ShingleStage.stagedBucketed(spark, s"$dir#specblocked", "sh",
      sortCol = Some("sh"))(sh.join(rare.select("sh"), "sh"))
    // the bucketed staged copy is a pure optimization
    assert(rows(Dedup.ngramJaccardPairsOf(blocked, dfCap = 0L))
      == rows(Dedup.ngramJaccardPairsOf(sh, dfCap = 64L)),
      "sh-bucketed blocked store must be value-identical")
    // with broadcast off (the 100 TB shape — a corpus-wide store is never
    // broadcastable) the sh self-join must read BOTH sides' buckets
    // co-located: zero shuffle exchanges in the whole pairing plan
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val priorBc = spark.conf.getOption(bcKey)
    val priorAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(bcKey, "-1")
    spark.conf.set(aqeKey, "false")
    try {
      val pairing = blocked.as("x").join(blocked.as("y"), "sh")
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      val exec = pairing.queryExecution.executedPlan
      assert(exec.toString.contains("Bucketed: true"),
        s"blocked-store scan must read as bucketed:\n${exec.toString.take(3000)}")
      assert(exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.nonEmpty, s"expected a sort-merge join:\n${exec.toString.take(3000)}")
      assert(exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.isEmpty,
        s"the sh-bucketed self-join must not shuffle either side:\n${exec.toString.take(3000)}")
    } finally {
      priorBc match { case Some(v) => spark.conf.set(bcKey, v); case None => spark.conf.unset(bcKey) }
      priorAqe match { case Some(v) => spark.conf.set(aqeKey, v); case None => spark.conf.unset(aqeKey) }
    }
  }

  test("pair-store election: staged pairs label identically and the corpus side never scans text") {
    // the pair graph staged as a managed table (the pairStoreFor shape)
    val pairsStaged = ShingleStage.stagedTable(spark, s"$dir#specpairs",
      Dedup.minhashNearDupsOf(ShingleStage.shingleHashes(spark, s"$dir#spec", docs), 200000L))
    // value-neutrality: CC over the staged pair table == CC over pairs
    // derived fresh from text
    val got = rows(Dedup.connectedComponents(pairsStaged))
    val want = rows(Dedup.connectedComponents(
      Dedup.minhashNearDupsOf(Dedup.shingleHashes(docs), 200000L)))
    assert(got == want, "staged pair store must be a pure optimization")
    // the election's corpus side selects ids only — column pruning must
    // reach the parquet scan (a scan reading text for an id-only join is
    // exactly the waste the staged store exists to avoid)
    val labeled = Dedup.clusterLabels(Tables.documents(spark, dir), pairsStaged, "doc_id")
    val plan = labeled.queryExecution.executedPlan.toString
    assert(!plan.contains("text:string"),
      s"corpus text leaked into the election scan:\n${plan.take(3000)}")
  }

  test("band-bucketed store probe: value-identical AND no store-side exchange under shuffle join") {
    // the at-rest band artifact (minhashStoreBands, staged bucketed on
    // bh) must be a pure optimization of the derive-per-probe path...
    val store = Dedup.minhashSignature(docs.where(col("doc_id") % 2 === 0))
      .withColumn("cluster_id", col("doc_id"))
    val batchSigs = Dedup.minhashSignature(
      docs.where(col("doc_id") % 2 === 1).select("doc_id", "text"))
    val bands = ShingleStage.stagedBucketed(spark, s"$dir#specbands", "bh")(
      Dedup.minhashStoreBands(store))
    val got = rows(Dedup.minhashStoreMatches(batchSigs, store, storeBands = Some(bands)))
    val want = rows(Dedup.minhashStoreMatches(batchSigs, store))
    assert(got == want, "band-bucketed probe must be a pure optimization")
    // ...and with broadcast off (the 100 TB shape: a probe batch too big
    // to broadcast), the band join must read the store's buckets
    // CO-LOCATED: only the probe side shuffles — asserted as "the band
    // join's store side has no exchange", i.e. the store-band scan is
    // bucketed and the plan's exchanges don't repartition it
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val priorBc = spark.conf.getOption(bcKey)
    val priorAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(bcKey, "-1")
    spark.conf.set(aqeKey, "false")
    try {
      val bBands = batchSigs
        .select(col("doc_id"), explode(expr(TextOps.bandHashesS)).as("bh"))
      val probeJoin = bBands.join(bands.select("store_id", "cluster_id", "bh"), "bh")
      val exec = probeJoin.queryExecution.executedPlan
      assert(exec.toString.contains("Bucketed: true"),
        s"store-band scan must read as bucketed:\n${exec.toString.take(3000)}")
      // the join's STORE child must contain no shuffle — the bucketed
      // layout supplies the join's required partitioning; only the probe
      // side repartitions
      val smj = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n${exec.toString.take(3000)}")
      val storeShuffles = smj.head.right.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(storeShuffles.isEmpty,
        s"the band-bucketed store side must not shuffle:\n${exec.toString.take(3000)}")
    } finally {
      priorBc match { case Some(v) => spark.conf.set(bcKey, v); case None => spark.conf.unset(bcKey) }
      priorAqe match { case Some(v) => spark.conf.set(aqeKey, v); case None => spark.conf.unset(aqeKey) }
    }
  }

  test("band-bucketed image store probe == derive-per-probe phashStoreMatches") {
    val rnd = new scala.util.Random(21)
    val storeRows = (0 until 40).map(i => (i.toLong, i.toLong, rnd.nextLong()))
    val store = storeRows.toDF("store_id", "cluster_id", "dhash")
    // probes: near-copies of store hashes (distance <= 3) plus novel ones
    val probe = (storeRows.take(10).map { case (id, _, h) =>
      (1000L + id, h ^ (1L << ((id * 13) % 64)))
    } ++ (0 until 5).map(i => (2000L + i, rnd.nextLong()))).toDF("media_id", "dhash")
    val bands = ShingleStage.stagedBucketed(spark, s"$dir#specimgbands", "bv")(
      ImageHash.phashStoreBands(store))
    val got = rows(ImageHash.phashStoreMatches(probe, store, storeBands = Some(bands)))
    val want = rows(ImageHash.phashStoreMatches(probe, store))
    assert(got == want, "bucketed image band store must be a pure optimization")
    assert(got.nonEmpty, "fixture sanity: planted near-copies must match")
  }

  test("signature aggregation over the staged table plans NO exchange (bucket co-location)") {
    val staged = ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
    val plan = Dedup.minhashSignatureOf(staged).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed scan should satisfy the groupBy(doc_id) distribution:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scan is not bucket-aware:\n$plan")
  }

  test("minhashDedupIncremental: bridge merges store clusters; is_novel flags store-untouched components; singletons keep own id") {
    import spark.implicits._
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven"
    val base3 = "red orange yellow green blue indigo violet white black gray"
    // store: 10 and 20 carry the SAME signature but sit in different
    // clusters (the historical state a bridge doc must merge); 30 is
    // unrelated
    val store = Dedup.minhashSignature(
        Seq((10L, base1), (20L, base1), (30L, base2)).toDF("doc_id", "text"))
      .withColumn("cluster_id", col("doc_id"))
    val batch = Seq(
      (101L, base1), // bridge: matches clusters 10 AND 20 -> merges them
      (102L, base3), // within-batch pair with 103: new cluster, min id
      (103L, base3),
      (104L, base2), // attaches to existing cluster 30
      (105L, "totally distinct unique words sharing nothing with anyone"),
      (106L, "too short")) // <3 tokens: no signature, singleton by coalesce
      .toDF("doc_id", "text")
    val got = Dedup.minhashDedupIncremental(batch, store)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      101L -> ((10L, false)), // min EXISTING cluster id of the merged pair
      102L -> ((102L, true)), // new within-batch cluster, min batch id
      103L -> ((102L, true)),
      104L -> ((30L, false)), // joined the old cluster
      105L -> ((105L, true)), // novel singleton: own id
      106L -> ((106L, true))), // short doc: own id via the coalesce path
      s"got $got")
  }

  test("minhashDedupIncremental: batch edges == brute-force band-sharing pairs over the threshold") {
    // odd sf0.001 docs plus near-copies (first token dropped) and exact
    // copies (agreeing on every band) of some of them
    val odd = docs.where(col("doc_id") % 2 === 1)
    val batch = odd
      .unionByName(odd.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substr(text, instr(text, ' ') + 1)").as("text")))
      .unionByName(odd.where(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val bsig = Dedup.minhashSignature(batch)
    val sigs = bsig.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq)
    def band(sig: IndexedSeq[Long], j: Int) = sig.slice(j * TextOps.ROWS, (j + 1) * TextOps.ROWS)
    val want = (for {
      (i, si) <- sigs.toSeq
      (j, sj) <- sigs.toSeq
      if i < j && (0 until TextOps.BANDS).exists(b => band(si, b) == band(sj, b))
      if si.zip(sj).count { case (x, y) => x == y }.toLong * 1000000L / TextOps.K >= 500000L
    } yield (i, j)).sorted
    assert(want.exists { case (i, j) => j - i == 1000000L } &&
      want.exists { case (i, j) => j - i == 2000000L },
      s"fixture must hold near-copy and exact-copy pairs: ${want.take(20)}")

    // the batch edges: the store probe with the batch as its own store
    val edges = Dedup.minhashStoreMatches(bsig, bsig.withColumn("cluster_id", col("doc_id")))
      .where(col("doc_id") < col("store_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(edges == want, s"got ${edges.diff(want).take(10)} extra, ${want.diff(edges).take(10)} missing")
    assert(edges.distinct == edges && edges.forall { case (i, j) => i < j })

    // against an empty store the labels are the components of those edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    want.foreach { case (i, j) =>
      val (a, c) = (find(i), find(j)); parent(math.max(a, c)) = math.min(a, c) }
    val empty = bsig.limit(0).withColumn("cluster_id", col("doc_id"))
    val got = Dedup.minhashDedupIncremental(batch, empty)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == batch.select("doc_id").collect().map(r =>
      r.getLong(0) -> ((find(r.getLong(0)), true))).toMap)
  }

  test("minhashDedupIncremental: checkIdDisjointness rejects batch ids colliding with store cluster ids") {
    import spark.implicits._
    val store = Dedup.minhashSignature(
        Seq((10L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"))
      .withColumn("cluster_id", col("doc_id"))
    val batch = Seq((10L, "some other text entirely here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashDedupIncremental(batch, store, checkIdDisjointness = true)
    }
    assert(e.getMessage.contains("collide"))
    // disjoint ids pass the guard (and still compute)
    val ok = Dedup.minhashDedupIncremental(
      Seq((101L, "some other text entirely here")).toDF("doc_id", "text"),
      store, checkIdDisjointness = true)
    assert(ok.count() == 1L)
  }

  test("the incremental loop CLOSES: sigStoreAppend feeds round 2, cluster identities persist") {
    import spark.implicits._
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven"
    // round 0 store: one historical cluster (doc 10)
    val store0 = Dedup.minhashSignature(Seq((10L, base1)).toDF("doc_id", "text"))
      .withColumn("cluster_id", col("doc_id"))
    // round 1: a novel pair forms NEW cluster 101; doc 103 joins cluster 10
    val batch1 = Seq((101L, base2), (102L, base2), (103L, base1)).toDF("doc_id", "text")
    val round1 = Dedup.minhashDedupIncremental(batch1, store0)
    val got1 = round1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(101L -> 101L, 102L -> 101L, 103L -> 10L))

    val store1 = store0.unionByName(Dedup.sigStoreAppend(batch1, round1))
    assert(store1.count() == 4L, "every signature-bearing batch doc appends")

    // round 2: near-copies of ROUND-1 content must attach to the cluster
    // ids round 1 assigned — the loop is closed, identities persist
    val batch2 = Seq(
      (201L, base2), // exact copy of round-1 novel content -> cluster 101
      (202L, base1), // copy of historical content -> cluster 10
      (203L, "completely fresh words never seen in any earlier round"))
      .toDF("doc_id", "text")
    val got2 = Dedup.minhashDedupIncremental(batch2, store1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got2 == Map(
      201L -> ((101L, false)), // round-1-minted cluster id survives the append
      202L -> ((10L, false)),
      203L -> ((203L, true))), s"got $got2")
  }

  test("staging is once-per-corpus: second call reads the same managed table") {
    ShingleStage.shingleHashes(spark, s"$dir#spec", docs)
    assert(spark.catalog.tableExists("graft_shingles__root_testdata_sf0_001_spec"))
    // second call must NOT re-evaluate docs: poison the thunk
    val again = ShingleStage.shingleHashes(spark, s"$dir#spec",
      sys.error("re-staged despite cache"))
    assert(again.columns.toSeq == Seq("doc_id", "sh", "h"))
  }

  // --------------------------------------------- incremental SEMANTIC dedup

  /** Exact-reconstruction fixture: prototype k is one-hot at dim 8k (ppm
    * 1e6), and the handcrafted codebooks carry exactly the subvectors the
    * prototypes use (entry 0 = zero, entry 1 = local one-hot, the rest
    * distant filler) — so PQ reconstructs prototypes EXACTLY and the ADC
    * cosine between a copy and its stored original is precisely 1e6 ppm,
    * while different prototypes are orthogonal (cos 0). Semantics are then
    * assertable without tolerance.
    */
  private def proto(k: Int): Array[Double] = {
    val v = Array.fill(64)(0.0); v(8 * k) = 1.0; v
  }
  private val fixtureCbs: Seq[Seq[Seq[Long]]] =
    (0 until Similarity.PQ_M).map { _ =>
      Seq(Seq.fill(8)(0L), 1000000L +: Seq.fill(7)(0L)) ++
        (2 until Similarity.PQ_KSUB).map(_ => Seq.fill(8)(900000L))
    }
  private val fixtureCents = Similarity.defaultCentroids(64, 8)

  test("cell-bucketed vec store: value-identical probe AND no store-side exchange under shuffle join") {
    import spark.implicits._
    val storeRows = (0 until 40).map(i => (i.toLong * 2, proto(i % 8)))
    val storePlain = Similarity.vecStoreEncode(
        storeRows.toDF("vec_id", "embedding"), fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
    val storeBucketed = ShingleStage.stagedBucketed(spark, s"$dir#specvecstore", "cell")(storePlain)
    val batch = (0 until 12).map(i => (1001L + 2 * i, proto(i % 8))).toDF("vec_id", "embedding")
    val got = rows(Similarity.ivfPqStoreMatches(
      batch, storeBucketed, fixtureCents, fixtureCbs, tauPpm = 500000L))
    val want = rows(Similarity.ivfPqStoreMatches(
      batch, storePlain, fixtureCents, fixtureCbs, tauPpm = 500000L))
    assert(got == want, "cell-bucketed store must be a pure optimization")
    assert(got.nonEmpty, "fixture sanity: planted prototype copies must match")
    // the 100 TB shape: probe batch too large to broadcast — the cell
    // equi-join must read the store's buckets co-located, only the probe
    // side shuffles
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val aqeKey = "spark.sql.adaptive.enabled"
    val priorBc = spark.conf.getOption(bcKey)
    val priorAqe = spark.conf.getOption(aqeKey)
    spark.conf.set(bcKey, "-1")
    spark.conf.set(aqeKey, "false")
    try {
      val probeJoin = Similarity.ivfPqStoreMatches(
        batch, storeBucketed, fixtureCents, fixtureCbs, tauPpm = 500000L)
      val exec = probeJoin.queryExecution.executedPlan
      assert(exec.toString.contains("Bucketed: true"),
        s"vec store scan must read as bucketed:\n${exec.toString.take(3000)}")
      val smj = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(smj.nonEmpty, s"expected a sort-merge join:\n${exec.toString.take(3000)}")
      val storeShuffles = smj.head.right.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(storeShuffles.isEmpty,
        s"the cell-bucketed store side must not shuffle:\n${exec.toString.take(3000)}")
    } finally {
      priorBc match { case Some(v) => spark.conf.set(bcKey, v); case None => spark.conf.unset(bcKey) }
      priorAqe match { case Some(v) => spark.conf.set(aqeKey, v); case None => spark.conf.unset(aqeKey) }
    }
  }

  test("semanticDedupIncremental: bridge merges store clusters; attach; within-batch; novel; null vectors drop") {
    import spark.implicits._
    val store = Similarity.vecStoreEncode(
        Seq((10L, proto(0)), (20L, proto(0)), (30L, proto(1))).toDF("vec_id", "embedding"),
        fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
    val batch = Seq(
      (101L, proto(0)),             // bridge: ADC-matches clusters 10 AND 20 -> merges
      (102L, proto(2)),             // within-batch exact-cos pair with 103
      (103L, proto(2)),
      (104L, proto(1)),             // attaches to existing cluster 30
      (105L, proto(3)),             // novel singleton
      (106L, null.asInstanceOf[Array[Double]])) // null embedding: dropped
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupIncremental(
        batch, store, fixtureCents, fixtureCbs, tauPpm = 500000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      101L -> ((10L, false)), // min existing cluster id of the merged pair
      102L -> ((102L, true)),
      103L -> ((102L, true)),
      104L -> ((30L, false)),
      105L -> ((105L, true))), s"got $got")
  }

  test("the semantic loop CLOSES: vecStoreAppend feeds round 2, cluster identities persist") {
    import spark.implicits._
    val store0 = Similarity.vecStoreEncode(
        Seq((10L, proto(0))).toDF("vec_id", "embedding"), fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
    val batch1 = Seq((101L, proto(4)), (102L, proto(4)), (103L, proto(0)))
      .toDF("vec_id", "embedding")
    val round1 = Similarity.semanticDedupIncremental(
      batch1, store0, fixtureCents, fixtureCbs, tauPpm = 500000L)
    val got1 = round1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(101L -> 101L, 102L -> 101L, 103L -> 10L), s"got $got1")

    val store1 = store0.unionByName(
      Similarity.vecStoreAppend(batch1, round1, fixtureCents, fixtureCbs))
    assert(store1.count() == 4L, "every non-null batch vector appends")

    val batch2 = Seq(
      (201L, proto(4)), // copy of round-1 novel content -> round-1-minted cluster 101
      (202L, proto(0)), // copy of historical content -> cluster 10
      (203L, proto(6))) // fresh
      .toDF("vec_id", "embedding")
    val got2 = Similarity.semanticDedupIncremental(
        batch2, store1, fixtureCents, fixtureCbs, tauPpm = 500000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got2 == Map(
      201L -> ((101L, false)),
      202L -> ((10L, false)),
      203L -> ((203L, true))), s"got $got2")
  }

  test("semanticDedupIncremental: checkIdDisjointness rejects colliding id spaces") {
    import spark.implicits._
    val store = Similarity.vecStoreEncode(
        Seq((10L, proto(0))).toDF("vec_id", "embedding"), fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedupIncremental(
        Seq((10L, proto(1))).toDF("vec_id", "embedding"),
        store, fixtureCents, fixtureCbs, checkIdDisjointness = true)
    }
    assert(e.getMessage.contains("collide"))
    val ok = Similarity.semanticDedupIncremental(
      Seq((101L, proto(1))).toDF("vec_id", "embedding"),
      store, fixtureCents, fixtureCbs, checkIdDisjointness = true)
    assert(ok.count() == 1L)
  }

  test("semanticDedupIncremental: the store scan reads codes only — floats of the historical corpus never load") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_vecstore").toString
    Similarity.vecStoreEncode(
        Seq((10L, proto(0))).toDF("vec_id", "embedding"), fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
      .withColumn("raw_embedding", typedLit(Seq.fill(64)(0.25)))
      .write.mode("overwrite").parquet(tmp)
    val store = spark.read.parquet(tmp)
    val batch = Seq((101L, proto(0))).toDF("vec_id", "embedding")
    val plan = Similarity.semanticDedupIncremental(
        batch, store, fixtureCents, fixtureCbs, tauPpm = 500000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("raw_embedding"),
      s"store-side float column leaked into the scan:\n${plan.take(3000)}")
  }

  // ------------------------------------- ONLINE store maintenance (e2e)

  test("sig-store maintenance ONLINE: foreachBatch labels + appends over a MemoryStream; identities persist; guard fires") {
    // the production ingest loop the staged tables model, actually driven
    // from a stream: each micro-batch reads the parquet-backed store,
    // labels via minhashDedupIncremental (disjointness guard ON), and
    // appends sigStoreAppend rows — the store a later batch reads IS the
    // table an earlier batch wrote
    import spark.implicits._
    val base1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base2 = "one two three four five six seven eight nine ten eleven"
    val storePath = java.nio.file.Files.createTempDirectory("graft_sigstore_online").toString
    Dedup.minhashSignature(Seq((10L, base1)).toDF("doc_id", "text"))
      .withColumn("cluster_id", col("doc_id"))
      .write.mode("overwrite").parquet(storePath)
    val labels = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          val store = spark.read.parquet(storePath)
          val labeled = Dedup.minhashDedupIncremental(b, store,
            checkIdDisjointness = true).persist()
          labeled.collect().foreach(r => labels.put(r.getLong(0), r.getLong(1)))
          Dedup.sigStoreAppend(b, labeled)
            .write.mode("append").parquet(storePath)
          labeled.unpersist(); b.unpersist()
          ()
        }
      }
      .start()
    try {
      input.addData(Seq((101L, base2), (102L, base2), (103L, base1)))
      q.processAllAvailable()
      input.addData(Seq((201L, base2), (202L, base1),
        (203L, "completely fresh words never seen in any earlier round")))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(labels.asScala.toMap == Map(
        101L -> 101L, 102L -> 101L, 103L -> 10L,     // batch 1 vs seed store
        201L -> 101L, 202L -> 10L, 203L -> 203L),    // batch 2 sees batch 1's appends
        s"got ${labels.asScala.toMap}")
      assert(spark.read.parquet(storePath).count() == 7L,
        "store = 1 seed + 3 batch-1 + 3 batch-2 rows")
      // the id-disjointness guard fires ACROSS batches: id 10 is a store
      // cluster id minted before this stream ever started
      input.addData(Seq((10L, base2)))
      val e = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(t => t.getMessage != null && t.getMessage.contains("collide")),
        s"expected the disjointness guard in the failure chain, got $e")
    } finally q.stop()
  }

  test("vec-store maintenance ONLINE: foreachBatch drives semanticDedupIncremental + vecStoreAppend across batches") {
    import spark.implicits._
    val storePath = java.nio.file.Files.createTempDirectory("graft_vecstore_online").toString
    Similarity.vecStoreEncode(
        Seq((10L, proto(0))).toDF("vec_id", "embedding"), fixtureCents, fixtureCbs)
      .withColumn("cluster_id", col("vec_id"))
      .write.mode("overwrite").parquet(storePath)
    val labels = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Double])]
    val q = input.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.persist()
          val store = spark.read.parquet(storePath)
          val labeled = Similarity.semanticDedupIncremental(
            b, store, fixtureCents, fixtureCbs, tauPpm = 500000L,
            checkIdDisjointness = true).persist()
          labeled.collect().foreach(r => labels.put(r.getLong(0), r.getLong(1)))
          Similarity.vecStoreAppend(b, labeled, fixtureCents, fixtureCbs)
            .write.mode("append").parquet(storePath)
          labeled.unpersist(); b.unpersist()
          ()
        }
      }
      .start()
    try {
      input.addData(Seq((101L, proto(4)), (102L, proto(4)), (103L, proto(0))))
      q.processAllAvailable()
      input.addData(Seq((201L, proto(4)), (202L, proto(0)), (203L, proto(6))))
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(labels.asScala.toMap == Map(
        101L -> 101L, 102L -> 101L, 103L -> 10L,
        201L -> 101L, 202L -> 10L, 203L -> 203L),  // round-1-minted 101 persists
        s"got ${labels.asScala.toMap}")
      assert(spark.read.parquet(storePath).count() == 7L)
    } finally q.stop()
  }

  test("concurrent first use of one key runs its builder exactly once; every caller reads the table") {
    val key = "stage_once_spec"
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val reads = (1 to 8).map { _ =>
        pool.submit(() => {
          go.await()
          ShingleStage.stagedTable(spark, key, {
            builds.incrementAndGet()
            Thread.sleep(200) // keep the build open while the others arrive
            Seq(1L, 2L, 3L).toDF("x")
          }).count()
        })
      }
      go.countDown()
      assert(reads.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)) == Seq.fill(8)(3L))
      assert(builds.get == 1, s"the builder ran ${builds.get} times")
    } finally {
      pool.shutdownNow()
      spark.sql("DROP TABLE IF EXISTS graft_staged_stage_once_spec")
    }
  }

  /** The catalog name of staged store `store` of data dir `d`. */
  private def stagedName(d: String, store: String): String =
    if (store == "shingles") "graft_shingles_" + d.replaceAll("[^A-Za-z0-9]", "_")
    else "graft_staged_" + s"${store}_$d".replaceAll("[^A-Za-z0-9]", "_")

  private def stagingThreads: Seq[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.getName == "graft-staging")
  }

  test("stageAllDetail: a failing build throws only after the others end; a rerun on full data stages every store at the session's width") {
    // a data dir without embeddings.parquet: only the vec store fails
    val partial = java.nio.file.Files.createTempDirectory("graft_stage_partial")
    val links = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try links.iterator.forEachRemaining { p =>
      if (p.getFileName.toString != "embeddings.parquet")
        java.nio.file.Files.createSymbolicLink(partial.resolve(p.getFileName), p)
    } finally links.close()
    ShingleStage.reset(spark)
    val failure = intercept[Exception](PipelineQueries.stageAllDetail(spark, partial.toString))
    assert(failure.getMessage.contains("embeddings"), failure.getMessage)
    // every other build had written its store when the call threw
    val others = Seq("shingles", "sigstore", "sigbands", "imgstore", "imgbands", "pairstore",
      "truthstore", "blockedstore", "sitemappages", "linkstore", "rankstore", "crawledstore",
      "audiofp", "videoframes", "raster_false", "raster_true").map(stagedName(partial.toString, _))
    assert(others.filterNot(spark.catalog.tableExists) == Nil)
    assert(!spark.catalog.tableExists(stagedName(partial.toString, "vecstore")))
    stagingThreads.foreach(_.join(10000))
    assert(stagingThreads.filter(_.isAlive) == Nil, "the staging pool outlived the call")

    ShingleStage.reset(spark)
    val detail = PipelineQueries.stageAllDetail(spark, dir)
    assert(detail.map(_._1) == Seq("shingles", "sig_store", "sig_band_store", "img_store",
      "img_band_store", "vec_store", "pair_store", "truth_store", "blocked_store",
      "sitemap_pages", "link_store", "rank_store", "crawled_store", "media_audio",
      "media_video_frames", "media_raster", "media_raster_variants"), "declared order")
    // every bucketed store has the session's shuffle partitions as buckets
    val width = spark.sessionState.conf.numShufflePartitions
    val bucketed = Seq("shingles", "sigbands", "imgbands", "vecstore", "crawledstore")
      .map(stagedName(dir, _))
    val buckets = bucketed.map(t => t -> spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t)).bucketSpec.map(_.numBuckets))
    assert(buckets == bucketed.map(_ -> Some(width)))
  }

  test("stageAllDetail leaves the session's cache empty (the sitemap entry frame is released)") {
    spark.catalog.clearCache()
    ShingleStage.reset(spark) // force every artifact to build
    val detail = PipelineQueries.stageAllDetail(spark, dir)
    assert(detail.map(_._1).contains("sitemap_pages"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "staging must unpersist what it cached once the store is written")
  }
}
