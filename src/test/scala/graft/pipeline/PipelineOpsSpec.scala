package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-6 pipeline operators: cross-doc line dedup,
  * within-doc repetition, PII scrub, and IVF ANN. Hand-built fixtures with
  * known answers (the sf-corpus oracle queries cover the at-scale forms).
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------- line dedup

  test("lineDedupKeepFirst: one survivor per distinct line, smallest (doc, pos) wins") {
    val docs = Seq(
      (1L, "header\nbody one\nfooter"),
      (2L, "header\nbody two\nfooter"),
      (3L, "body three\nheader")).toDF("doc_id", "text")
    val out = Dedup.lineDedupKeepFirst(docs).orderBy("doc_id").collect()
    // doc 1 keeps all three (first appearance of header, body one, footer)
    assert(out(0).getAs[Long]("n_lines") == 3 && out(0).getAs[Long]("n_kept") == 3)
    // doc 2 keeps only its unique body
    assert(out(1).getAs[Long]("n_lines") == 3 && out(1).getAs[Long]("n_kept") == 1)
    // doc 3's header occurrence loses to doc 1 pos 0
    assert(out(2).getAs[Long]("n_lines") == 2 && out(2).getAs[Long]("n_kept") == 1)
  }

  test("lineDedupKeepFirst: within-doc repeats dedup too; all-dup docs get NULL md5") {
    val docs = Seq(
      (1L, "same\nsame\nsame"),
      (2L, "same")).toDF("doc_id", "text")
    val out = Dedup.lineDedupKeepFirst(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_kept") == 1) // first 'same' of doc 1
    assert(out(1).getAs[Long]("n_kept") == 0 && out(1).isNullAt(3))
  }

  test("lineDedupKeepFirst: kept_md5 preserves original line order") {
    val docs = Seq((1L, "b\na")).toDF("doc_id", "text")
    val got = Dedup.lineDedupKeepFirst(docs).select("kept_md5").head.getString(0)
    val want = docs.select(md5(lit("b\na"))).head.getString(0)
    assert(got == want, "kept lines must re-join in position order, not sorted order")
  }

  test("lineDedupKeepFirst: property — equals the naive sequential model on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "", "alpha beta")
    (1 to 5).foreach { round =>
      val docs = (0L until 40L).map { id =>
        val n = 1 + rnd.nextInt(6)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString("\n"))
      }
      // naive model: walk docs in id order, lines in position order, keep
      // first occurrence of each distinct line corpus-wide
      val seen = scala.collection.mutable.Set.empty[String]
      val want = docs.map { case (id, text) =>
        val lines = text.split("\n", -1).toSeq
        val kept = lines.filter(l => seen.add(l))
        (id, lines.size.toLong, kept.size.toLong,
          if (kept.isEmpty) null else kept.mkString("\n"))
      }
      val got = Dedup.lineDedupKeepFirst(docs.toDF("doc_id", "text"))
        .orderBy("doc_id").collect()
      want.zip(got).foreach { case ((id, nl, nk, keptText), row) =>
        assert(row.getLong(0) == id && row.getLong(1) == nl && row.getLong(2) == nk,
          s"round $round doc $id: want ($nl, $nk) got (${row.getLong(1)}, ${row.getLong(2)})")
        val wantMd5 = Option(keptText).map(t =>
          java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString)
        assert(Option(row.getString(3)) == wantMd5, s"round $round doc $id kept_md5 mismatch")
      }
    }
  }

  test("lineDedupKeepFirst: a regex-special separator splits literally") {
    val docs = Seq((1L, "a.b.a"), (2L, "a")).toDF("doc_id", "text")
    val out = Dedup.lineDedupKeepFirst(docs, sep = ".").orderBy("doc_id").collect()
    // literal "." → doc 1 = [a, b, a] (keeps a, b); regex "." would split
    // on EVERY char into empty strings
    assert(out(0).getAs[Long]("n_lines") == 3 && out(0).getAs[Long]("n_kept") == 2)
    assert(out(1).getAs[Long]("n_kept") == 0) // doc 2's "a" lost to doc 1
  }

  test("ivfKnn: null embeddings are dropped, not mis-assigned") {
    val rows = Seq(
      (0L, Array.fill(64)(0.1)),
      (1L, Array.fill(64)(0.2)),
      (2L, null.asInstanceOf[Array[Double]]))
    val corpus = rows.toDF("vec_id", "embedding")
    val out = Similarity.ivfKnn(corpus, corpus.filter($"vec_id" === 0), 5, nprobe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L), s"null-embedding row must never surface as a neighbor: $out")
  }

  test("lineDedupKeepFirst: a document over the line cap fails fast, naming the doc") {
    val huge = Seq.fill((1 << 20) + 2)("x").mkString("\n")
    val docs = Seq((7L, huge)).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.lineDedupKeepFirst(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("exceeds") && m.contains("7")),
      s"expected the guard error naming doc 7, got: $e")
  }

  test("lineDedupKeepFirst: a doc_id outside the packed-key bound fails fast, naming the id") {
    val docs = Seq((1L << 43, "a\nb"), (1L, "c")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.lineDedupKeepFirst(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("overflows") && m.contains((1L << 43).toString)),
      s"expected the id-bound guard error, got: $e")
  }

  // ------------------------------------------------------- sampling/scoring

  test("stratifiedByRate: deterministic, rate-monotone, default applied to absent strata") {
    val docs = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("doc_id", "lang")
    def sample(en: Long, zh: Long, dflt: Long = 0L) =
      Sampling.stratifiedByRate(docs, "lang",
        Seq(("en", en), ("zh", zh)).toDF("lang", "rate_ppm"), defaultPpm = dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sample(0L, 0L).isEmpty, "rate 0 keeps nothing")
    assert(sample(1000000L, 1000000L).size == 200, "rate 1e6 keeps everything")
    val half = sample(500000L, 500000L)
    assert(half == sample(500000L, 500000L), "re-run must pick identical rows")
    assert(half.nonEmpty && half.size < 200)
    val lower = sample(200000L, 200000L)
    assert(lower.subsetOf(half), "lowering the rate must only shrink the kept set")
    // stratum absent from the rate table follows defaultPpm
    val defaulted = Sampling.stratifiedByRate(docs, "lang",
      Seq(("en", 0L)).toDF("lang", "rate_ppm"), defaultPpm = 1000000L)
      .select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(defaulted == Set("zh"), "en rate 0 drops all en; zh keeps via default")
  }

  test("stratifiedByRate: an id past the hash bound fails fast; duplicate strata rejected") {
    // oversized id: the multiplicative hash would wrap Long and silently
    // bias keep/drop — must raise in-plan, naming the id
    val wide = Seq((Sampling.MaxIdMagnitude + 1L, "en"), (1L, "en")).toDF("doc_id", "lang")
    val e = intercept[Exception] {
      Sampling.stratifiedByRate(wide, "lang",
        Seq(("en", 500000L)).toDF("lang", "rate_ppm")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("overflow") &&
        m.contains((Sampling.MaxIdMagnitude + 1L).toString)),
      s"expected the id-bound guard error, got: $e")
    // ids at the bound (either sign) still hash fine
    val atBound = Seq((Sampling.MaxIdMagnitude, "en"), (-Sampling.MaxIdMagnitude, "en"))
      .toDF("doc_id", "lang")
    Sampling.stratifiedByRate(atBound, "lang",
      Seq(("en", 1000000L)).toDF("lang", "rate_ppm")).collect()
    // a duplicated stratum row would multiply corpus rows through the join;
    // a LITERAL rates table is validated driver-side for free...
    val docs = Seq((1L, "en")).toDF("doc_id", "lang")
    val dupRates = Seq(("en", 100L), ("en", 200L)).toDF("lang", "rate_ppm")
    val dup = intercept[Exception] {
      Sampling.stratifiedByRate(docs, "lang", dupRates).collect()
    }
    assert(messages(dup).exists(_.contains("duplicate")), s"got: $dup")
    // ...and a NON-local rates table takes the lazy in-plan guard path
    val dupLazy = intercept[Exception] {
      Sampling.stratifiedByRate(docs, "lang", dupRates.repartition(1)).collect()
    }
    assert(messages(dupLazy).exists(_.contains("duplicate")), s"got: $dupLazy")
    // clean non-local rates still sample correctly through the guard
    val cleanLazy = Sampling.stratifiedByRate(docs, "lang",
      Seq(("en", 1000000L)).toDF("lang", "rate_ppm").repartition(1))
    assert(cleanLazy.count() == 1L)
  }

  test("contamination: eval overlap in ppm; short and clean docs report zeros") {
    val docs = Seq(
      (1L, "a b c d e"),       // shingles: abc bcd cde
      (2L, "x y z w"),         // disjoint from eval
      (3L, "a b c q r s"),     // shares abc only (1 of 4)
      (4L, "too short")        // no shingles
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val out = TextAnalysis.contamination(docs, eval_)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, 3L, 3L, 1000000L)), s"fully contained: ${out(0)}")
    assert(out(1) == ((2L, 2L, 0L, 0L)), s"clean: ${out(1)}")
    assert(out(2) == ((3L, 4L, 1L, 250000L)), s"partial: ${out(2)}")
    assert(out(3) == ((4L, 0L, 0L, 0L)), s"short doc reports zeros: ${out(3)}")
  }

  test("contaminationFuzzy catches a paraphrased eval doc that exact shingle decontamination misses") {
    // vocabulary appears TWICE at non-congruent offsets (40 tokens, 20
    // distinct), so a paraphrase hitting every 3rd POSITION (the marker
    // 'zzz') kills every 3-token window — exact hits are PROVABLY zero
    // (every eval shingle contains 'zzz'; no train shingle does) — while
    // the distinct-token set barely moves (each token survives at its
    // other, non-congruent position): unigram Jaccard = 20/21
    val vocab = (1 to 20).map(i => s"tok$i")
    val trainText = (vocab ++ vocab).mkString(" ")
    val paraText = (vocab ++ vocab).zipWithIndex
      .map { case (t, i) => if ((i + 1) % 3 == 0) "zzz" else t }.mkString(" ")
    val train = Seq(
      (1L, trainText),
      (2L, (1 to 20).map(i => s"other$i").mkString(" "))) // disjoint vocab
      .toDF("doc_id", "text")
    val evalDocs = Seq((7L, paraText)).toDF("doc_id", "text")
    // exact path: zero hits for BOTH train docs
    val exact = TextAnalysis.contamination(train, evalDocs).orderBy("doc_id").collect()
    assert(exact.forall(_.getLong(3) == 0L),
      "the paraphrase must zero the exact probe — that miss is the point")
    // fuzzy path: train doc 1 flagged against eval 7, the disjoint doc clean
    val fuzzy = TextAnalysis.contaminationFuzzy(train, evalDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fuzzy.map(t => (t._1, t._2)).toSeq == Seq((1L, 7L)),
      s"exactly the paraphrased pair must flag, got ${fuzzy.toSeq}")
    assert(fuzzy.head._3 >= 500000L, "signature agreement must clear the threshold")
    // empty eval set: no rows, no crash
    assert(TextAnalysis.contaminationFuzzy(train, evalDocs.limit(0)).isEmpty)
  }

  test("bm25Lite: higher tf scores higher; df discounts; misses stay out") {
    val docs = Seq(
      (1L, "spark alpha beta gamma"),
      (2L, "spark spark alpha beta"),
      (3L, "alpha beta gamma delta"),
      (4L, "common alpha beta gamma"),
      (5L, "common common alpha beta")).toDF("doc_id", "text")
    val out = TextAnalysis.bm25Lite(docs, Seq("spark", "common"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(!byId.contains(3L), "doc without any query term must not appear")
    assert(byId(2L) > byId(1L), "tf=2 must outscore tf=1 at equal df and dl")
    assert(out.map(_._2).forall(_ == 1L), "each scored doc hit exactly one term here")
  }

  // ------------------------------------------------------- components

  // reference union-find: node -> minimum id of its component
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(n => n -> find(n)).toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: chains collapse transitively, min id labels the cluster") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (9L, 9L)).toDF("id1", "id2")
    val got = labels(Dedup.connectedComponents(pairs))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("connectedComponents: property — equals union-find on random pair sets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val want = unionFind(pairs)
      val got = labels(Dedup.connectedComponents(pairs.toDF("id1", "id2")))
      assert(got == want, s"seed $seed: got $got want $want")
    }
  }

  test("cluster election keeps unshingleable short docs as singleton keepers") {
    // doc 1 has < 3 tokens → zero shingle rows; deriving the election
    // universe from the shingle table would silently drop it
    val docs = Seq((1L, "only two"), (2L, "a b c d e f"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(docs)
    val out = Dedup.clusterLabels(docs, Dedup.minhashNearDupsOf(sh, 200000L), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L, "short doc must surface as its own singleton keeper")
    assert(out(2L) == 2L && out(3L) == 2L, "exact dups must share a cluster under the min id")
  }

  test("connectedComponentsStar: property — equals union-find on random pair sets") {
    // driverEdgeLimit = 0 forces the distributed (star-contraction) arm
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 100)
      val pairs = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val want = unionFind(pairs)
      val got = labels(Dedup.connectedComponents(pairs.toDF("id1", "id2"), driverEdgeLimit = 0))
      assert(got == want, s"seed $seed: got $got want $want")
    }
  }

  test("connectedComponentsStar: self-loops and edgeless nodes label as singletons") {
    val pairs = Seq((2L, 1L), (9L, 9L)).toDF("id1", "id2")
    val got = labels(Dedup.connectedComponents(pairs, driverEdgeLimit = 0))
    assert(got == Map(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("connectedComponents: small graphs take the driver union-find; == distributed") {
    // well-within-limit graph: the bounded union-find path, same labels
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("id1", "id2")
    assert(labels(Dedup.connectedComponents(pairs)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    // property: each arm == the reference union-find on random graphs
    // (including duplicate and self edges)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 300)
      val rp = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      val want = unionFind(rp)
      val driver = labels(Dedup.connectedComponents(rp.toDF("id1", "id2")))
      val dist = labels(Dedup.connectedComponents(rp.toDF("id1", "id2"), driverEdgeLimit = 0))
      assert(driver == want && dist == want,
        s"seed $seed: driver $driver vs distributed $dist vs union-find $want")
    }
  }

  test("connectedComponents: over the driver limit, star labels a 200-node chain 0") {
    // force the distributed arm with driverEdgeLimit=0: a 200-node chain
    // (diameter 199) must still label everything 0
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val got = Dedup.connectedComponents(chain, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 200 && got.forall(_._2 == 0L))
    // a tiny driver limit routes even a 3-edge graph distributed — the
    // probe must not mislabel (take(limit+1) sees only part of the graph)
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L)).toDF("id1", "id2")
    assert(labels(Dedup.connectedComponents(pairs, driverEdgeLimit = 1)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponentsStar: a 1000-node chain converges in O(log n) rounds") {
    // the adversarial case for label propagation: diameter 999 would need
    // 999 min-label rounds; star contraction must stay logarithmic
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) = Dedup.starContract(chain, "id1", "id2", maxIters = 50)
    assert(rounds <= 2 * 10 + 4, s"expected O(log2 1000) rounds, took $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1000 && got.forall(_._2 == 0L),
      s"all nodes must label 0, got ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  // universe: 1 pairless, {2,3,4} a 3-chain, 9 a self-pair only
  private val electionPairs = Seq((2L, 3L), (3L, 4L), (9L, 9L))
  private val electionIds = Seq(1L, 2L, 3L, 4L, 9L)

  // the election inputs with long ids (the driver union-find arm) or int
  // ids (non-long ids take the distributed star arm); rows read back as
  // longs, and the arm is checked by the checkpointed star state in the plan
  private def election(intIds: Boolean, pairs: Seq[(Long, Long)])(
      run: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] = {
    val ids = electionIds.toDF("doc_id")
    val edges = pairs.toDF("id1", "id2")
    val cast = (df: org.apache.spark.sql.DataFrame) =>
      if (intIds) df.select(df.columns.map(c => col(c).cast("int").as(c)): _*) else df
    val out = run(cast(ids), cast(edges))
    assert(out.queryExecution.optimizedPlan.toString.contains("LogicalRDD") == intIds,
      s"intIds=$intIds took the wrong arm:\n${out.queryExecution.optimizedPlan}")
    out.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getBoolean(2))).toSet
  }

  test("clusterLabels: pairless ids, a chain and a self-pair label by min id on both arms") {
    val uf = unionFind(electionPairs)
    val want = electionIds.map { i =>
      val c = uf.getOrElse(i, i)
      (i, c, c == i)
    }.toSet
    assert(want == Set((1L, 1L, true), (2L, 2L, true), (3L, 2L, false), (4L, 2L, false),
      (9L, 9L, true)))
    for (intIds <- Seq(false, true)) {
      val got = election(intIds, electionPairs)(Dedup.clusterLabels(_, _, "doc_id"))
      assert(got == want, s"intIds=$intIds: got $got")
    }
  }

  test("incrementalClusterLabels: a store cluster merging two batch docs wins the election") {
    // store cluster 0 matches batch docs 1 and 4, bridging {1} and {2,3,4}
    val edges = electionPairs ++ Seq((1L, 0L), (4L, 0L))
    val storeIds = Seq(0L, 50L)
    val uf = unionFind(edges)
    val want = electionIds.map { i =>
      val c = uf.getOrElse(i, i)
      val storeMin = storeIds.filter(s => uf.get(s).contains(c)).minOption
      (i, storeMin.getOrElse(c), storeMin.isEmpty)
    }.toSet
    assert(want == Set((1L, 0L, false), (2L, 0L, false), (3L, 0L, false), (4L, 0L, false),
      (9L, 9L, true)))
    for (intIds <- Seq(false, true)) {
      val store = storeIds.toDF("cluster_id").select(
        col("cluster_id").cast(if (intIds) "int" else "bigint").as("cluster_id"))
      val got = election(intIds, edges)(Dedup.incrementalClusterLabels(_, _, store, "doc_id",
        checkIdDisjointness = true))
      assert(got == want, s"intIds=$intIds: got $got")
    }
    // a batch id equal to a store cluster id is refused when checked
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalClusterLabels(Seq(50L).toDF("doc_id"), edges.toDF("id1", "id2"),
        storeIds.toDF("cluster_id"), "doc_id", checkIdDisjointness = true)
    }
    assert(e.getMessage.contains("collide"))
  }

  test("gopherFilter: each rule trips its own reason bit; clean prose keeps") {
    val docs = Seq(
      (1L, (0 until 60).map(i => s"word$i").mkString(" ")), // clean (avg token ~5.8 chars)
      (2L, "too short"),                                                // bit 0
      (3L, Seq.fill(80)("same").mkString(" ")),                         // repeats: bits 3,4,5
      (4L, (0 until 60).map(i => s"supercalifragilistic$i").mkString(" ")) // long tokens: bit 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 0L)), s"clean doc: ${out(1L)}")
    assert(out(2L)._1 == 0L && (out(2L)._2 & 1L) != 0L, s"short doc: ${out(2L)}")
    assert(out(3L)._1 == 0L && (out(3L)._2 & 48L) != 0L && (out(3L)._2 & 8L) != 0L,
      s"repetitive doc: ${out(3L)}")
    assert(out(4L)._1 == 0L && (out(4L)._2 & 4L) != 0L, s"long-token doc: ${out(4L)}")
  }

  // ------------------------------------------------------- repetition

  test("repetitionStats: duplicate n-gram fractions in ppm") {
    val docs = Seq(
      (1L, "a b a b a"), // bigrams: ab ba ab ba -> 4 total 2 distinct; trigrams: aba bab aba -> 3 total 2 distinct
      (2L, "x y z"),     // no repeats
      (3L, "t"))         // too short for any n-gram
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_bigrams") == 4 && out(0).getAs[Long]("dup_bigram_ppm") == 500000L)
    assert(out(0).getAs[Long]("n_trigrams") == 3 && out(0).getAs[Long]("dup_trigram_ppm") == 333333L)
    assert(out(1).getAs[Long]("dup_bigram_ppm") == 0L)
    assert(out(2).getAs[Long]("n_bigrams") == 0L && out(2).getAs[Long]("dup_bigram_ppm") == 0L)
  }

  // ------------------------------------------------------- pii scrub

  test("piiScrub: redacts all occurrences and counts them") {
    val docs = Seq(
      (1L, "mail a.b@x.co and c@y.org or dial +1-555-0000 then +1-555-9999"),
      (2L, "clean text, no pii")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_emails") == 2 && out(0).getAs[Long]("n_phones") == 2)
    val scrubbed = docs.filter($"doc_id" === 1).select(
      md5(lit("mail <EMAIL> and <EMAIL> or dial <PHONE> then <PHONE>"))).head.getString(0)
    assert(out(0).getAs[String]("scrub_md5") == scrubbed)
    assert(out(1).getAs[Long]("n_emails") == 0 && out(1).getAs[Long]("n_phones") == 0)
  }

  // ------------------------------------------------------- ivf ann

  test("ivfCell assigns the max-inner-product centroid; probes rank cells") {
    // a vector equal to centroid 3 must land in (or at least probe) a cell
    // whose centroid has the highest dot with it — by Cauchy-Schwarz that
    // is cell 3 unless another centroid is a larger positive multiple,
    // impossible for these bounded pseudo-random centroids
    val v = Similarity.ivfCentroid(3, 64).toArray
    val df = Seq((3L, v)).toDF("vec_id", "embedding")
    val cell = df.select(Similarity.ivfCell(col("embedding")).as("c")).head.getLong(0)
    assert(cell == 3L)
    val probes = df.select(Similarity.ivfProbes(col("embedding"), 2).as("p"))
      .head.getSeq[Long](0)
    assert(probes.size == 2 && probes.head == 3L && probes.distinct.size == 2)
  }

  test("ivfKnn == bruteForceKnn when every cell is probed (nprobe = nCells)") {
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextDouble() - 0.5)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceKnn(corpus, queries, 3)
      .collect().map(_.toSeq).toSet
    val full = Similarity.ivfKnn(corpus, queries, 3, nprobe = 8)
      .collect().map(_.toSeq).toSet
    assert(full == exact, "probing every cell must recover the exact result")
    // and the default narrow probe returns k results per query (recall may
    // differ — that is the IVF trade — but the contract shape holds)
    val narrow = Similarity.ivfKnn(corpus, queries, 3)
    assert(narrow.groupBy("query_id").count().collect().forall(_.getLong(1) <= 3))
  }

  test("hardNegatives: off-label top-k only, never same-label or self; null labels drop") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map { i =>
      val label: java.lang.Long = if (i == 39L) null else java.lang.Long.valueOf(i % 3)
      (i, Array.fill(64)(rnd.nextDouble() - 0.5), label)
    }
    val corpus = vecs.toDF("vec_id", "embedding", "label")
    val queries = corpus.filter($"vec_id" < 4)
    val got = Similarity.hardNegatives(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 4 queries x 5 negatives; labels all differ from the query's
    val labelOf = vecs.collect { case (i, _, l) if l != null => (i, l.longValue) }.toMap
    assert(got.length == 20)
    got.foreach { case (q, _, n, nl) =>
      assert(n != q && nl != labelOf(q) && labelOf(n) == nl)
    }
    // independent reference: the off-label filter applied to a full
    // brute-force ranking must produce the same top-5
    val bf = Similarity.bruteForceKnn(corpus, queries, 39)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = bf.groupBy(_._1).toSeq.flatMap { case (q, rows) =>
      rows.sortBy(_._2).map(_._3).toSeq
        .filter(n => labelOf.get(n).exists(_ != labelOf(q)))
        .take(5).zipWithIndex.map { case (n, i) => (q, i + 1L, n) }
    }.toSet
    assert(got.map(t => (t._1, t._2, t._3)).toSet == expected)
    // the null-label vector appears in NO result (as neighbor or query)
    assert(got.forall(_._3 != 39L))
  }

  test("marginMinedPairs: mutual best only, hubs penalized, == independent reference") {
    // src0 and tgt0 are near-copies (the planted translation pair);
    // tgtHub points halfway to EVERYTHING (a hub: high absolute cosine
    // with all sources) — the margin must pair src0 with tgt0, not the
    // hub, because the hub's own neighborhood sum is uniformly high
    val dim = 8
    def unit(i: Int): Array[Double] = Array.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    val rnd = new scala.util.Random(5)
    def noisy(v: Array[Double]): Array[Double] = v.map(_ + rnd.nextDouble() * 0.01)
    val hub = Array.fill(dim)(0.5)
    val src = Seq((0L, noisy(unit(0))), (1L, noisy(unit(1))), (2L, noisy(unit(2))))
    val tgt = Seq((10L, noisy(unit(0))), (11L, noisy(unit(1))), (12L, hub))
    val got = Similarity.marginMinedPairs(
        src.toDF("vec_id", "embedding"), tgt.toDF("vec_id", "embedding"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 10L)) && got.contains((1L, 11L)), got.toString)
    assert(!got.exists(p => p._2 == 12L && (p._1 == 0L || p._1 == 1L)),
      s"the hub must not steal a planted pair: $got")

    // independent integer-pipeline reference on random sides
    val rs = (0L until 12L).map(i => (i, Array.fill(dim)(rnd.nextDouble() - 0.5)))
    val rt = (100L until 110L).map(i => (i, Array.fill(dim)(rnd.nextDouble() - 0.5)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val c = (for { (i, a) <- rs; (j, b) <- rt }
      yield ((i, j), math.floor((cos(a, b) + 1) * 1000000).toLong)).toMap
    def topkSum(keys: Seq[Long], of: Long => Seq[(Long, Long)], k: Int): Map[Long, Long] =
      keys.map(x => (x, of(x).sortBy { case (id, cv) => (-cv, id) }.take(k).map(_._2).sum)).toMap
    val sax = topkSum(rs.map(_._1), x => rt.map(y => (y._1, c((x, y._1)))), 4)
    val say = topkSum(rt.map(_._1), y => rs.map(x => (x._1, c((x._1, y)))), 4)
    val margin = c.map { case ((i, j), cv) =>
      ((i, j), 2000000L * cv / math.max(sax(i) + say(j), 1L)) }
    def bestBy[A](pairs: Iterable[((Long, Long), Long)], key: ((Long, Long)) => Long,
        other: ((Long, Long)) => Long): Map[Long, Long] =
      pairs.groupBy(p => key(p._1)).map { case (kk, ps) =>
        (kk, ps.toSeq.sortBy(p => (-p._2, other(p._1))).head._1 match {
          case (i, j) => if (key((i, j)) == i) j else i
        })
      }
    val bestX = bestBy(margin, _._1, _._2)
    val bestY = bestBy(margin, _._2, _._1)
    val wantPairs = bestX.collect {
      case (i, j) if bestY(j) == i => (i, j, margin((i, j)))
    }.toSet
    val gotR = Similarity.marginMinedPairs(
        rs.toDF("vec_id", "embedding"), rt.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotR == wantPairs, s"\n$gotR\nvs reference\n$wantPairs")
  }

  test("hardNegativesIvf: full probe == exact; in-cell negatives survive nprobe=1") {
    val dim = 8
    val nCells = 4
    val cents = Similarity.defaultCentroids(dim, nCells)
    val rnd = new scala.util.Random(17)
    def near(c: Int): Array[Double] =
      cents(c).toArray.map(_ * 10.0 + rnd.nextDouble() * 0.01)
    // per cell: 3 corpus vectors alternating labels, 1 query vector
    val corpus = (0 until 12).map(i => (i.toLong, near(i / 3), (i % 2).toLong))
    val queries = (0 until 4).map(c => (100L + c, near(c), 0L))
    val cdf = corpus.toDF("vec_id", "embedding", "label")
    val qdf = queries.toDF("vec_id", "embedding", "label")
    val exact = Similarity.hardNegatives(cdf, qdf, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val full = Similarity.hardNegativesIvf(cdf, qdf, cents, k = 2, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == exact, s"full-probe celled diverged:\n$full\nvs exact\n$exact")
    // nprobe=1: each query's own cell holds off-label vectors (labels
    // alternate within cells), so every query still mines negatives and
    // each mined negative is a true off-label in-cell neighbor
    val celled = Similarity.hardNegativesIvf(cdf, qdf, cents, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(queries.forall(q => celled.exists(_._1 == q._1)),
      s"every query must mine in-cell negatives at nprobe=1: $celled")
    assert(celled.forall { case (_, n) => corpus(n.toInt)._3 == 1L },
      s"queries are label 0, so every mined negative must be label 1: $celled")
  }

  test("marginMinedPairs: a NULL-id row feeds neighborhood sums but never emits " +
    "or competes for mutual-best (the r21 kernel rewrite's join-parity contract)") {
    val dim = 4
    def unit(i: Int): Array[Double] = Array.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    // tgt 10 is src 0's planted pair; the NULL-id source ALSO points at
    // tgt 10 with a higher cosine — under the old inner-join kernel it
    // contributed to tgt 10's top-k sum but could not steal __by = 1;
    // the window kernel must behave identically
    val src = Seq((java.lang.Long.valueOf(0L), unit(0)),
      (null.asInstanceOf[java.lang.Long], unit(0).map(_ * 2.0)))
    val tgt = Seq((java.lang.Long.valueOf(10L), unit(0)),
      (java.lang.Long.valueOf(11L), unit(1)))
    val got = Similarity.marginMinedPairs(
        src.toDF("vec_id", "embedding"), tgt.toDF("vec_id", "embedding"), k = 2)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(got.forall(p => p._1.isDefined && p._2.isDefined),
      s"NULL-id rows must never emit: ${got.toSeq}")
    assert(got.map(p => (p._1.get, p._2.get)).contains((0L, 10L)),
      s"the real pair must keep its mutual-best slot: ${got.toSeq}")
  }

  test("marginMinedPairsIvf: full probe == exact; partial probe recovers in-cell pairs") {
    val dim = 8
    val nCells = 4
    val cents = Similarity.defaultCentroids(dim, nCells)
    val rnd = new scala.util.Random(11)
    // src/tgt planted NEAR the centroids themselves (cluster c holds
    // src 3c..3c+2 and tgt 100+3c..100+3c+2), so every true pair is
    // in-cell by construction
    def near(c: Int): Array[Double] =
      cents(c).toArray.map(_ * 10.0 + rnd.nextDouble() * 0.01)
    val src = (0 until 12).map(i => (i.toLong, near(i / 3)))
    val tgt = (0 until 12).map(i => (100L + i, near(i / 3)))
    val sdf = src.toDF("vec_id", "embedding")
    val tdf = tgt.toDF("vec_id", "embedding")
    val exact = Similarity.marginMinedPairs(sdf, tdf, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // nprobe = nCells: the candidate set IS the cross product, so the
    // celled form must reproduce the exact output bit-for-bit
    val full = Similarity.marginMinedPairsIvf(sdf, tdf, cents, k = 2, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact, s"full-probe celled diverged:\n$full\nvs exact\n$exact")
    // nprobe = 1: neighborhood sums see cell-mates only, so margins can
    // differ, but the SELECTED mutual pairs (all in-cell here) must
    // survive the celled candidate generation
    val celled = Similarity.marginMinedPairsIvf(sdf, tdf, cents, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = exact.map(p => (p._1, p._2))
    assert(celled == exactPairs,
      s"in-cell planted pairs must survive nprobe=1:\n$celled\nvs\n$exactPairs")
  }

  // ------------------------------------------------------- duplicate spans

  test("duplicateSpans: a shared run surfaces in every holder; unique text is silent") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ") // 12 shared tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"$shared delta epsilon zeta"),
      (3L, "totally unique words only here nothing repeats at all ever once")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, w = 10).orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the 12-token run yields 3 duplicated 10-windows per holder, merged to
    // one span over exactly the shared tokens — boundary-straddling windows
    // (e.g. doc 1 pos 0: "alpha beta tok1...") are unique and must not widen it
    assert(out == Seq((1L, 2L, 13L, 3L), (2L, 0L, 11L, 3L)))
  }

  test("duplicateSpans: within-doc repetition merges abutting windows into one span") {
    // P P: window 0 and window 10 are both P (duplicated); the straddling
    // windows 1..9 occur once each. [0,9] and [10,19] abut → one span.
    val p = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq((7L, s"$p $p")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, w = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((7L, 0L, 19L, 2L)))
  }

  test("duplicateSpans: matches a brute-force reference on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e") // tiny vocab → many repeats
    val w = 5
    val docs = (0L until 30L).map(i =>
      (i, Vector.fill(rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    // reference on gram STRINGS (no hashing): agreement also certifies the
    // 32-bit hash introduced no collisions on this corpus
    val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toVector }
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((_, ts) <- toks; i <- 0 to ts.length - w)
      counts(ts.slice(i, i + w).mkString(" ")) += 1
    val expected = toks.flatMap { case (id, ts) =>
      val dupPos = (0 to ts.length - w).filter(i => counts(ts.slice(i, i + w).mkString(" ")) > 1)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var (start, end, n) = (-1, -1, 0)
      for (p <- dupPos) {
        if (start < 0 || p > end + 1) {
          if (start >= 0) spans += ((id, start.toLong, end.toLong, n.toLong))
          start = p; end = p + w - 1; n = 1
        } else { end = math.max(end, p + w - 1); n += 1 }
      }
      if (start >= 0) spans += ((id, start.toLong, end.toLong, n.toLong))
      spans
    }.sortBy(s => (s._1, s._2))
    val got = Dedup.duplicateSpans(docs.toDF("doc_id", "text"), w = w)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  // ----------------------------------------------------- tf-idf keywords

  test("tfidfKeywords: tf × bit-length idf, corpus-wide tokens score 0, total tie order") {
    val docs = Seq((1L, "x x y"), (2L, "x z")).toDF("doc_id", "text")
    // n=2 ('10': 2 digits); df(x)=2 -> idf 0; df(y)=df(z)=1 -> idf 1
    val out = TextAnalysis.tfidfKeywords(docs, topK = 2).orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 1L, "y", 1L), (1L, 2L, "x", 0L),
      (2L, 1L, "z", 1L), (2L, 2L, "x", 0L)))
  }

  // --------------------------------------------------------- holdout split

  test("holdoutSplit: exhaustive labeling, growth-stable membership, config validation") {
    val splits = Seq(("train", 900000L), ("val", 50000L), ("test", 50000L))
    val small = Sampling.holdoutSplit((0L until 500L).toDF("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val big = Sampling.holdoutSplit((0L until 1000L).toDF("doc_id"), splits)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // every row labeled, all three slices present at this size
    assert(big.size == 1000 && big.values.toSet == Set("train", "val", "test"))
    // growing the corpus never migrates an existing doc between slices
    assert(small.forall { case (id, s) => big(id) == s })
    // shares are roughly proportional (hash uniformity, wide tolerance)
    assert(big.values.count(_ == "train") > 800)
    // invalid configs fail fast
    assert(intercept[IllegalArgumentException] {
      Sampling.holdoutSplit((0L until 5L).toDF("doc_id"), Seq(("a", 1L)))
    }.getMessage.contains("sum"))
    assert(intercept[IllegalArgumentException] {
      Sampling.holdoutSplit((0L until 5L).toDF("doc_id"),
        Seq(("a", 500000L), ("a", 500000L)))
    }.getMessage.contains("unique"))
  }

  // ------------------------------------------------------ epoch upsampling

  test("stratifiedWithRepeats: whole epochs plus hash-selected remainder; <= 1e6 degenerates to stratifiedByRate") {
    val docs = (0L until 90L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val rates = Seq(("s0", 2500000L), ("s1", 400000L)).toDF("src", "rate_ppm")
    val out = Sampling.stratifiedWithRepeats(docs, "src", rates, defaultPpm = 0L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("src"), r.getAs[Long]("epoch"))).toSeq
    val s0 = out.filter(_._2 == "s0")
    // every s0 doc appears at least twice (epochs 0,1); ~half get a third copy
    assert(s0.groupBy(_._1).forall { case (_, rows) => rows.size >= 2 && rows.size <= 3 })
    assert(s0.exists(_._3 == 2L) && s0.count(_._3 == 2L) < 30)
    // epochs number 0..k-1 densely
    s0.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size.toLong)) }
    // sub-1e6 stratum: identical row selection to stratifiedByRate, all epoch 0
    val s1 = out.filter(_._2 == "s1")
    assert(s1.forall(_._3 == 0L))
    val direct = Sampling.stratifiedByRate(docs, "src",
        Seq(("s1", 400000L)).toDF("src", "rate_ppm"), defaultPpm = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.map(_._1).toSet == direct)
    // unlisted stratum at defaultPpm 0 drops
    assert(!out.exists(_._2 == "s2"))
  }

  test("mixtureEpochRates: uncapped rates; the maxEpochs guard raises in-plan on explosive fan-out") {
    val docs = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "b", 1L)).toDF("doc_id", "src", "n_tok")
    val rates = Sampling.mixtureEpochRates(docs, "src", Map("a" -> 50L), "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("a" -> 2500000L)) // 50 tokens budget / 20 total = 2.5 epochs
    val boom = intercept[Exception] {
      Sampling.mixtureEpochRates(docs, "src", Map("b" -> 1000L), "n_tok").collect()
    }
    assert(boom.getMessage.contains("exceeds 100 epochs"))
  }

  // ----------------------------------------------------- incremental dedup

  test("exactDedupIncremental: store hits drop, within-batch dups elect first, fresh docs pass") {
    val store = Seq("seen text").toDF("text").select(md5(col("text")).as("h"))
    val batch = Seq(
      (1L, "seen text"),     // in store -> dropped
      (2L, "fresh one"),     // new, unique -> kept
      (3L, "fresh two"),     // new, duplicated in batch -> kept (first)
      (4L, "fresh two"),     // batch duplicate -> dropped
      (5L, "seen text")).    // in store -> dropped
      toDF("doc_id", "text")
    val out = Dedup.exactDedupIncremental(batch, store)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(2L, 3L))
  }

  // --------------------------------------------------- exact-count sample

  test("exactPerStratum: exact caps, prefix-growth, unlisted strata drop") {
    val docs = (0L until 60L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "src")
    val n4 = Sampling.exactPerStratum(docs, "src", Map("s0" -> 4L, "s1" -> 2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(n4.count(_._2 == "s0") == 4 && n4.count(_._2 == "s1") == 2)
    assert(!n4.exists(_._2 == "s2")) // unlisted -> dropped
    // a cap past the stratum size keeps the whole stratum
    val big = Sampling.exactPerStratum(docs, "src", Map("s0" -> 999L))
      .collect()
    assert(big.length == 20)
    // growing n only ADDS rows (hash-order prefix property)
    val n2 = Sampling.exactPerStratum(docs, "src", Map("s0" -> 2L))
      .collect().map(_.getLong(0)).toSet
    val n6 = Sampling.exactPerStratum(docs, "src", Map("s0" -> 6L))
      .collect().map(_.getLong(0)).toSet
    assert(n2.subsetOf(n6))
    // deterministic: a second run picks the identical rows
    assert(Sampling.exactPerStratum(docs, "src", Map("s0" -> 4L, "s1" -> 2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted == n4.sorted)
  }

  // -------------------------------------------------------- span excision

  test("exciseSpans: removes exactly the spanned tokens; spanless and all-duplicate docs behave") {
    val shared = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, shared),                       // the whole doc is one span
      (3L, "unique words nothing here")). // no spans at all
      toDF("doc_id", "text")
    val out = Dedup.exciseSpans(docs, Dedup.duplicateSpans(docs, w = 10))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, "alpha beta gamma", 12L),
      (2L, "", 12L),
      (3L, "unique words nothing here", 0L)))
  }

  test("exciseSpans: matches a brute-force detect+apply reference on a random corpus") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d")
    val w = 4
    val docs = (0L until 25L).map(i =>
      (i, Vector.fill(rnd.nextInt(31))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val toks = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toVector }
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((_, ts) <- toks; i <- 0 to ts.length - w)
      counts(ts.slice(i, i + w).mkString(" ")) += 1
    val expected = toks.map { case (id, ts) =>
      val covered = Array.fill(ts.length)(false)
      for (i <- 0 to ts.length - w if counts(ts.slice(i, i + w).mkString(" ")) > 1;
           p <- i until i + w) covered(p) = true
      val kept = ts.indices.filterNot(covered).map(ts)
      (id, kept.mkString(" "), covered.count(identity).toLong)
    }.sortBy(_._1)
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.exciseSpans(df, Dedup.duplicateSpans(df, w = w)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // sanity: the tiny vocab actually produced excisions AND survivors
    assert(expected.exists(_._3 > 0) && expected.exists(e => e._3 == 0 && e._2.nonEmpty))
  }

  // ------------------------------------------------- classifier inference

  test("nbTrainWeights: learns a separable corpus, serves through classifierScore at 100%; log-odds signs and counts exact") {
    import spark.implicits._
    // lexically separable fixture: quality prose vs spam boilerplate
    val good = Seq("insightful analysis of the data", "careful analysis with real data",
      "the data shows a careful result", "insightful result from real analysis")
    val spam = Seq("click here buy now cheap", "cheap pills buy now click",
      "now click here for cheap pills", "buy cheap pills here now")
    val train = (good.map((_, true)) ++ spam.map((_, false))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }.toDF("doc_id", "text", "label")
    val w = TextAnalysis.nbTrainWeights(train)
    val wm = w.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    // class-exclusive tokens get opposite-sign log-odds; counts are exact
    assert(wm("analysis") > 0 && wm("cheap") < 0, s"signs wrong: $wm")
    val counts = w.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(counts("analysis") == ((3L, 0L)) && counts("cheap") == ((0L, 4L)), counts.toString)
    // held-out variants classify perfectly through the serving form
    val test = Seq(
      (100L, "a careful analysis of data", true),
      (101L, "real insightful data result", true),
      (102L, "buy pills now", false),
      (103L, "click for cheap", false)).toDF("doc_id", "text", "label")
    val got = TextAnalysis.classifierScore(test, w.select("token", "w_milli"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(100L -> true, 101L -> true, 102L -> false, 103L -> false), got.toString)
    // determinism across partitioning (integer log2 — no float sums)
    val w7 = TextAnalysis.nbTrainWeights(train.repartition(7))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(w7 == wm, "training must be partition-shape independent")
  }

  test("nbTrainWeights feeds the STREAMING-SAFE inline scorer: train once, serve online, scores identical") {
    import spark.implicits._
    val train = Seq(
      (1L, "good clean prose with analysis", true),
      (2L, "more clean analysis and prose", true),
      (3L, "spam click bait now", false),
      (4L, "bait click spam offer", false)).toDF("doc_id", "text", "label")
    val wMap = TextAnalysis.nbTrainWeights(train)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val test = Seq((10L, "clean analysis text"), (11L, "click spam here")).toDF("doc_id", "text")
    val batch = TextAnalysis.classifierScore(test,
        wMap.toSeq.toDF("token", "w_milli"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    val inline = TextAnalysis.classifierScoreInline(test, wMap)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(batch == inline, s"trained model must serve identically through the inline form\n$batch\n$inline")
    assert(inline.exists { case (id, _, keep) => id == 10L && keep } &&
      inline.exists { case (id, _, keep) => id == 11L && !keep }, inline.toString)
  }

  test("classifierScore: mean token weight + bias; truncation toward zero; zero-token doc scores bias") {
    val model = Seq(("good", 300L), ("bad", -500L)).toDF("token", "w_milli")
    val docs = Seq(
      (1L, "good good bad"),       // (300+300-500) div 3 = 33
      (2L, "bad bad unknown"),     // -1000 div 3 = -333 (truncates toward 0)
      (3L, ""),                    // zero tokens -> bias only
      (4L, "neutral words only")). // all unknown -> 0 div 3 = 0
      toDF("doc_id", "text")
    val out = TextAnalysis.classifierScore(docs, model, biasMilli = 10L, keepThresholdMilli = 0L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(out == Seq(
      (1L, 3L, 43L, true),
      (2L, 3L, -323L, false),
      (3L, 0L, 10L, true),
      (4L, 3L, 10L, true)))
  }

  test("classifierScoreInline: output-equal to the broadcast-join form; runs as a streaming projection") {
    val wmap = Map("good" -> 300L, "bad" -> -500L)
    val docs = Seq((1L, "good good bad"), (2L, "bad bad x"), (3L, ""), (4L, "y z"))
      .toDF("doc_id", "text")
    val viaJoin = TextAnalysis.classifierScore(docs, wmap.toSeq.toDF("token", "w_milli"),
        biasMilli = 10L, keepThresholdMilli = 0L)
      .orderBy("doc_id").collect().toSeq
    val inline = TextAnalysis.classifierScoreInline(docs, wmap,
        biasMilli = 10L, keepThresholdMilli = 0L)
      .orderBy("doc_id").collect().toSeq
    assert(inline == viaJoin)

    // streaming: the same projection over a MemoryStream, append mode,
    // no state — scores arrive with the batch results
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val query = TextAnalysis.classifierScoreInline(
        input.toDF().toDF("doc_id", "text"), wmap, biasMilli = 10L)
      .writeStream.format("memory").queryName("clf_out").outputMode("append").start()
    try {
      input.addData(Seq((1L, "good good bad"), (2L, "bad bad x")))
      query.processAllAvailable()
      val streamed = spark.table("clf_out").orderBy("doc_id").collect().toSeq
      assert(streamed == viaJoin.take(2))
    } finally query.stop()
  }

  test("classifierScore: a duplicated model row fails fast (literal model, driver-side)") {
    val dup = Seq(("good", 300L), ("good", 100L)).toDF("token", "w_milli")
    val docs = Seq((1L, "good")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.classifierScore(docs, dup)
    }
    assert(e.getMessage.contains("duplicate model rows"))
  }

  // ------------------------------------------------------- vocab coverage

  test("vocabCoverage: rank by count with lexical ties, exact cumulative ppm") {
    val docs = Seq((1L, "b a b c"), (2L, "a b a")).toDF("doc_id", "text")
    // counts: a=3, b=3, c=1; total=7; ties a<b
    val out = TextAnalysis.vocabCoverage(docs, topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "a", 3L, 3L * 1000000 / 7),
      (2L, "b", 3L, 6L * 1000000 / 7)))
  }

  // ------------------------------------------------------------ surprisal

  test("surprisalStats: bit-length log2 of inverse frequency, mean per doc") {
    val docs = Seq((1L, "x x x"), (2L, "x y")).toDF("doc_id", "text")
    // counts: x=4, y=1; total=5 (bin '101' -> 3 digits)
    // surp(x) = 3 - 3 = 0; surp(y) = 3 - 1 = 2
    val out = TextAnalysis.surprisalStats(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, 3L, 0L),           // mean(0,0,0)
      (2L, 2L, 1000L)))       // mean(0,2) = 1 -> 1000 milli
  }

  // ------------------------------------------------------ bigram surprisal

  test("bigramSurprisalStats: conditional bit-length surprisal; short docs report zero transitions") {
    val docs = Seq((1L, "x y"), (2L, "x z"), (3L, "x y"), (4L, "solo")).toDF("doc_id", "text")
    // transitions: (x,y)x2, (x,z)x1; lc(x)=3 ('11': 2 digits)
    // surp(x->y) = 2 - 2 = 0; surp(x->z) = 2 - 1 = 1
    val out = TextAnalysis.bigramSurprisalStats(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(
      (1L, 1L, 0L),
      (2L, 1L, 1000L),
      (3L, 1L, 0L),
      (4L, 0L, 0L)))
  }

  // ------------------------------------------------------- semantic dedup

  test("semanticDedup: transitive near-dups collapse to one keeper; distinct vectors stay singletons") {
    // 2-dim, two cells along the axes; a/b/c near-identical (one cluster,
    // keeper = min id), d in the other cell (singleton)
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (3L, Array(1.0f, 0.010f)),
      (1L, Array(1.0f, 0.011f)),
      (2L, Array(1.0f, 0.012f)),
      (9L, Array(0.02f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, cents, 0.99)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("semanticDedup: matches a brute-force reference (argmax cells, pairwise cosine, union-find)") {
    val rnd = new scala.util.Random(7)
    val dim = 8
    val cents: Seq[Seq[Double]] = Seq.fill(4)(Seq.fill(dim)(rnd.nextDouble() - 0.5))
    val base = (0L until 40L).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    // exact copies (+100) and copies-of-copies (+200) to force transitive merges
    val all = base ++
      base.filter(_._1 % 5 == 0).map { case (i, v) => (i + 100L) -> v.clone() } ++
      base.filter(_._1 % 10 == 0).map { case (i, v) => (i + 200L) -> v.clone() }

    // reference mirrors the engine's arithmetic order exactly: strict
    // left-to-right double fold (VecDot), argmax as min over (-dot, cid)
    def dotd(a: Array[Float], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }; acc
    }
    def dotf(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }; acc
    }
    val cellOf = all.map { case (i, v) =>
      i -> cents.zipWithIndex.map { case (c, ci) => (-dotd(v, c), ci) }.min._2
    }.toMap
    val byId = all.toMap
    val parent = scala.collection.mutable.Map(all.map(_._1 -> -1L): _*)
    def find(x: Long): Long = if (parent(x) < 0) x else { val r = find(parent(x)); parent(x) = r; r }
    def union(a: Long, b: Long): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val ids = all.map(_._1)
    for (i <- ids; j <- ids if i < j && cellOf(i) == cellOf(j)) {
      val (vi, vj) = (byId(i), byId(j))
      val cos = dotf(vi, vj) / (math.sqrt(dotf(vi, vi)) * math.sqrt(dotf(vj, vj)))
      if (cos >= 0.99) union(i, j)
    }
    // min-id root == elected keeper label (union always reroots to the min)
    val expected = ids.sorted.map(i => (i, find(i), find(i) == i))

    val got = Similarity.semanticDedup(all.toDF("vec_id", "embedding"), cents, 0.99)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == expected)
    // sanity: the construction actually produced multi-member clusters
    assert(expected.count(!_._3) >= 12)
  }

  test("semanticDedup: pairs form only within a cell (cross-cell near-dups are missed by design)") {
    // two near-identical diagonal vectors that land in DIFFERENT cells
    // (one barely x-major, one barely y-major): blocked by the cell
    // boundary, both stay keepers
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      (1L, Array(1.000f, 0.999f)),
      (2L, Array(0.999f, 1.000f))).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, cents, 0.99)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSeq.sorted
    assert(out == Seq((1L, true), (2L, true)))
  }

  test("semanticDedup: adversarial long chain in one cell converges via the auto CC fallback") {
    // 20 unit vectors 6 degrees apart in one cell: consecutive cosine
    // cos(6°) ≈ 0.9945 >= 0.99, skip-one cos(12°) ≈ 0.978 < 0.99 — a pure
    // 19-diameter chain. Int ids route the components step to the
    // distributed star-contraction arm (long ids of a graph this small take
    // the driver union-find), which must converge inside semanticDedup and
    // still elect one min-id keeper.
    val cents = Seq(Seq(1.0, 0.0)) // single cell: no blocking interference
    val chain = (0 until 20).map { i =>
      val a = math.toRadians(6.0 * i)
      (i + 1, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }
    val out = Similarity.semanticDedup(chain.toDF("vec_id", "embedding"), cents, 0.99)
      .orderBy("vec_id")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getBoolean(2))).toSeq
    assert(out == (1 to 20).map(i => (i, 1, i == 1)))
  }

  test("semanticDedup: giant-cell guard fails fast before the quadratic pair join") {
    val cents = Seq(Seq(1.0, 0.0))
    val vecs = (1L to 6L).map(i => (i, Array(1.0f, i.toFloat / 100)))
      .toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      Similarity.semanticDedup(vecs, cents, 0.99, maxCellRows = 5L).collect()
    }
    val messages = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("semanticDedup: cell"),
      s"expected the giant-cell raise_error, got: $messages")
    // at the bound it passes untouched
    assert(Similarity.semanticDedup(vecs, cents, 0.99, maxCellRows = 6L).count() == 6L)
  }

  // ------------------------------------------------------- mixture budgets

  test("mixtureRates: integer derivation — zero budget drops, oversize budget caps at 1e6") {
    val docs = Seq(
      (1L, "a", 100L), (2L, "a", 300L), // total a = 400
      (3L, "b", 50L),
      (4L, "c", 10L)).toDF("doc_id", "src", "n_tok")
    val rates = Sampling.mixtureRates(docs, "src",
        Map("a" -> 100L, "b" -> 500L, "c" -> 0L), "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates == Map("a" -> 250000L, "b" -> 1000000L, "c" -> 0L))
    // a budget that would overflow budget * 1e6 fails fast, driver-side
    val e = intercept[IllegalArgumentException] {
      Sampling.mixtureRates(docs, "src", Map("a" -> Long.MaxValue / 1000L), "n_tok")
    }
    assert(e.getMessage.contains("budget"))
  }

  test("mixtureByBudget: composition equals stratifiedByRate over the derived rates") {
    val docs = (0L until 100L).map(i => (i, s"s${i % 3}", 10L + i % 7))
      .toDF("doc_id", "src", "n_tok")
    val budgets = Map("s0" -> 150L, "s1" -> 0L) // s2 unlisted → defaultPpm
    val viaMixture = Sampling.mixtureByBudget(docs, "src", budgets,
        tokensCol = "n_tok", defaultPpm = 400000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = Sampling.stratifiedByRate(docs, "src",
        Sampling.mixtureRates(docs, "src", budgets, "n_tok"), defaultPpm = 400000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaMixture == direct)
    // zero budget drops its stratum entirely; the unlisted stratum samples
    val kept = Sampling.mixtureByBudget(docs, "src", budgets,
        tokensCol = "n_tok", defaultPpm = 400000L)
      .select("src").distinct().collect().map(_.getString(0)).toSet
    assert(!kept.contains("s1") && kept.contains("s2"))
  }

  // ------------------------------------------------------- int8 ANN

  test("int8Knn: codes fill [-127,127], quantization is exact-integer deterministic, copies rank top") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(), s"$dir not present")
    val emb = graft.tables.Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val codes = emb.select(expr(Similarity.int8QuantS("embedding")).as("q"))
      .collect().map(_.getSeq[Long](0))
    // symmetric quantization: every code in range, and the max |component|
    // of every vector maps to exactly +/-127 (full range used)
    assert(codes.forall(_.forall(c => c >= -127 && c <= 127)))
    assert(codes.forall(_.exists(c => math.abs(c) == 127)))

    // an exact vector copy has identical codes and scale — it must appear
    // in its original's top-3 by the dequantized score
    val aug = emb.unionByName(emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val top = Similarity.int8Knn(aug, aug.filter(col("vec_id") % 10 === 0 && col("vec_id") < 1000000L), 3)
    val byQuery = top.collect().groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.exists(_.getAs[Long]("neighbor_id") == q + 1000000L),
        s"exact copy of $q must rank in its top-3")
    }
    // deterministic across runs (pure integer arithmetic, no FP ordering)
    val again = Similarity.int8Knn(aug, aug.filter(col("vec_id") % 10 === 0 && col("vec_id") < 1000000L), 3)
    assert(top.collect().map(_.toSeq).toSeq == again.collect().map(_.toSeq).toSeq)
  }

  // --------------------------------------------- temperature mixture

  test("temperatureRates: sqrt reweighting is integer-exact; caps and empty strata behave") {
    // s0: 100 docs x 100 tokens = 10000; s1: 10 x 10 = 100
    val docs = ((0L until 100L).map(i => (i, "s0", 100L)) ++
      (100L until 110L).map(i => (i, "s1", 10L))).toDF("doc_id", "src", "n_tok")
    val rates = Sampling.temperatureRates(docs, "src", budget = 1000L, tokensCol = "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // w0 = sqrt(10000) = 100, w1 = sqrt(100) = 10, S = 110
    // w_ppm0 = 100*1e6 div 110 = 909090; rate0 = 1000 * 909090 div 10000
    // w_ppm1 =  10*1e6 div 110 =  90909; rate1 = 1000 *  90909 div 100
    assert(rates == Map("s0" -> 90909L, "s1" -> 909090L))
    // the flattening property itself: the small stratum samples at a far
    // HIGHER rate, where a proportional split would give both the same one
    assert(rates("s1") > rates("s0") * 9)

    // budget beyond the corpus: all strata cap at keep-everything
    val full = Sampling.temperatureRates(docs, "src", budget = 1000000L, tokensCol = "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full.values.forall(_ == 1000000L))

    // alpha = 1 degenerates to a proportional split: equal rates (mod floor)
    val prop = Sampling.temperatureRates(docs, "src", budget = 1000L,
        tokensCol = "n_tok", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(prop("s0") - prop("s1")) <= 200,
      s"alpha=1 must be ~proportional, got $prop")

    // a zero-token stratum keeps everything (budget constrains nothing)
    val withEmpty = docs.unionByName(Seq((200L, "s2", 0L)).toDF("doc_id", "src", "n_tok"))
    val r3 = Sampling.temperatureRates(withEmpty, "src", budget = 1000L, tokensCol = "n_tok")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r3("s2") == 1000000L && r3("s0") == 90909L)
  }

  test("mixtureByTemperature: sampled mass tracks the sqrt split; deterministic") {
    val docs = ((0L until 400L).map(i => (i, "s0", 50L)) ++
      (400L until 500L).map(i => (i, "s1", 8L))).toDF("doc_id", "src", "n_tok")
    val out = Sampling.mixtureByTemperature(docs, "src", budget = 4000L, tokensCol = "n_tok")
    val toks = out.groupBy("src").agg(sum("n_tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // targets: w0 = sqrt(20000) ~ 141, w1 = sqrt(800) ~ 28, so s1 gets
    // ~17% of the budget despite being 4% of the corpus; hash sampling is
    // expected-value, so assert within a loose band around the target
    val t0 = 4000.0 * 141 / 169; val t1 = 4000.0 * 28 / 169
    assert(toks("s0") > t0 * 0.6 && toks("s0") < t0 * 1.4, s"s0 got ${toks("s0")} vs target $t0")
    assert(toks("s1") > t1 * 0.6 && toks("s1") < t1 * 1.4, s"s1 got ${toks("s1")} vs target $t1")
    assert(out.collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      Sampling.mixtureByTemperature(docs, "src", budget = 4000L, tokensCol = "n_tok")
        .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  // ------------------------------------------ inline contamination

  test("contaminationInline == contamination on the same rows; short docs report zeros") {
    val eval = Seq((100L, "alpha beta gamma delta"), (101L, "one two three")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // 2 eval shingles of 3
      (2L, "completely novel text right here"),
      (3L, "one two three one two three"),      // repeated eval shingles, distinct-counted
      (4L, "too short"),                        // no shingles -> zeros
      (5L, "")).toDF("doc_id", "text")
    val inline = TextAnalysis.contaminationInline(docs,
        TextAnalysis.evalShingleSet(eval))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val batch = TextAnalysis.contamination(docs, eval)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(inline.toSeq == batch.toSeq,
      s"inline ${inline.toSeq} != batch ${batch.toSeq}")
    val short = inline.find(_._1 == 4L).get
    assert(short._2 == 0L && short._3 == 0L && short._4 == 0L)
  }

  // ------------------------------------------------ priority dedup

  test("exactDedupByPriority: trusted source wins its dup group regardless of id; unlisted ranks worst") {
    val docs = Seq(
      (1L, "crawl", "same text"),    // dup group A: crawl(1), curated(9)
      (9L, "curated", "same text"),  //   -> curated wins despite higher id
      (2L, "crawl", "other text"),   // dup group B: crawl vs unlisted
      (3L, "mystery", "other text"), //   -> listed crawl wins
      (5L, "curated", "unique")).    // singleton keeps itself
      toDF("doc_id", "source", "text")
    val out = Dedup.exactDedupByPriority(docs, Map("curated" -> 1L, "crawl" -> 5L))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("keep_id"), r.getAs[Boolean]("is_keeper"))).toMap
    assert(out(1L) == ((9L, false)) && out(9L) == ((9L, true)),
      "curated must beat the lower-id crawl copy")
    assert(out(2L) == ((2L, true)) && out(3L) == ((2L, false)),
      "listed source must beat the unlisted one")
    assert(out(5L) == ((5L, true)))
    // uniform priorities degenerate to exactDedup's min-id election
    val flat = Dedup.exactDedupByPriority(docs, Map("curated" -> 7L, "crawl" -> 7L, "mystery" -> 7L))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap
    val plain = Dedup.exactDedup(docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap
    assert(flat == plain)
  }

  // --------------------------------------------------- curriculum bins

  test("scoreBins: histogram quartiles match a brute-force reference; ties never split bins") {
    val rnd = new scala.util.Random(23)
    val docs = (0L until 200L).map(i => (i, rnd.nextInt(40).toLong - 20L))
      .toDF("doc_id", "score")
    val got = Sampling.scoreBins(docs, "score", nBins = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score"), r.getAs[Long]("bin"))).toMap
    assert(got.size == 200)
    // brute force: below-count per score over the full distribution
    val scores = docs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val byScore = scores.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expect = scores.map { case (id, s) =>
      val below = byScore.filter(_._1 < s).values.sum
      id -> math.min(4L, below * 4L / 200L + 1L)
    }.toMap
    assert(got.view.mapValues(_._2).toMap == expect)
    // ties: every doc with the same score shares a bin
    got.values.groupBy(_._1).foreach { case (s, v) =>
      assert(v.map(_._2).toSet.size == 1, s"score $s split across bins")
    }
    // bins are monotone in score
    val binOfScore = got.values.toSeq.distinct.sortBy(_._1)
    assert(binOfScore.map(_._2) == binOfScore.map(_._2).sorted)
    // roughly equal-count (up to tie granularity of this distribution)
    val sizes = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(1L, 2L, 3L, 4L) && sizes.values.forall(n => n > 20 && n < 80),
      s"degenerate bin sizes: $sizes")
    // composes with stratifiedByRate on the bin column (the curriculum)
    val rates = Seq((4L, 1000000L), (3L, 0L), (2L, 0L), (1L, 0L)).toDF("bin", "rate_ppm")
    val top = Sampling.stratifiedByRate(
        Sampling.scoreBins(docs, "score", 4), "bin", rates, defaultPpm = 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(top == got.filter(_._2._2 == 4L).keySet)
  }

  // --------------------------------------------- token-budget prefix cap

  test("tokenCapPerStratum: exact hash-order prefix, full-keep arm, unlisted drop") {
    val docs = ((0L until 80L).map(i => (i, "s0", 10L + i % 7)) ++
      (80L until 120L).map(i => (i, "s1", 5L)) ++
      (120L until 140L).map(i => (i, "s2", 3L))).toDF("doc_id", "src", "n_tok")
    val out = Sampling.tokenCapPerStratum(docs, "src",
      Map("s0" -> 200L, "s1" -> 100000L), tokensCol = "n_tok")
    val rows = out.collect()
    // unlisted s2 dropped entirely
    assert(!rows.exists(_.getAs[String]("src") == "s2"))
    // full-keep arm: cap >= total keeps the whole stratum with exact cums
    assert(rows.count(_.getAs[String]("src") == "s1") == 40)
    // exact prefix: recompute brute-force from the full stratum in
    // (bucket, id) order and compare ids
    val buckets = docs.where(col("src") === "s0")
      .select(col("doc_id"), col("n_tok"), Sampling.bucketPpm("doc_id").as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    val expect = buckets.scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, n, b)) =>
      (id, n, b, cum + n) }.drop(1).takeWhile(_._4 <= 200L).map(_._1).toSet
    val got = rows.filter(_.getAs[String]("src") == "s0").map(_.getAs[Long]("doc_id")).toSet
    assert(got == expect, s"prefix mismatch: got $got expect $expect")
    // per-stratum kept mass never exceeds the cap
    assert(rows.filter(_.getAs[String]("src") == "s0").map(_.getAs[Long]("n_tok")).sum <= 200L)
    // deterministic re-run
    assert(Sampling.tokenCapPerStratum(docs, "src",
        Map("s0" -> 200L, "s1" -> 100000L), tokensCol = "n_tok")
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq == rows.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("tokenCapPerStratum: matches a brute-force prefix reference on seeded random corpora") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { round =>
      val docs = (0L until 150L).map { i =>
        (i * 7 + round, s"s${rnd.nextInt(4)}", rnd.nextInt(40).toLong)
      }.toDF("doc_id", "src", "n_tok")
      val caps = Map("s0" -> (200L + 100 * round), "s1" -> 150L, "s2" -> 1000000L)
      val got = Sampling.tokenCapPerStratum(docs, "src", caps, tokensCol = "n_tok",
          marginPct = 400L)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cum_tok"))).toMap
      // brute force: per stratum, walk (bucket, id) order accumulating
      val rows = docs
        .select(col("doc_id"), col("src"), col("n_tok"), Sampling.bucketPpm("doc_id").as("b"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      // running-INCLUSIVE sum with no reset: the first overflow poisons
      // every later doc too (the operator is a prefix, not a knapsack)
      val expect = rows.groupBy(_._2).flatMap { case (srcK, g) =>
        caps.get(srcK).toSeq.flatMap { cap =>
          var cum = 0L
          g.sortBy(t => (t._4, t._1)).flatMap { case (id, _, n, _) =>
            cum += n
            if (cum <= cap) Some(id -> cum) else None
          }
        }
      }.toMap
      assert(got == expect, s"round $round: got ${got.size} expect ${expect.size}")
    }
  }

  test("tokenCapPerStratum: margin guard is loud, even when the prefilter empties the stratum") {
    // adversarial token-mass skew: all mass sits in HIGH hash buckets, so
    // a tight margin's survivor prefix cannot reach the cap
    val base = (0L until 200L).map { i => (i, "s0") }.toDF("doc_id", "src")
      .select(col("doc_id"), col("src"), Sampling.bucketPpm("doc_id").as("b"))
    val skewed = base.select(col("doc_id"), col("src"),
      when(col("b") < 900000L, 0L).otherwise(10000L).as("n_tok"))
    val ex = intercept[Exception] {
      Sampling.tokenCapPerStratum(skewed, "src", Map("s0" -> 500L),
        tokensCol = "n_tok", marginPct = 100L).collect()
    }
    assert(ex.getMessage.contains("marginPct"), s"wrong error: ${ex.getMessage}")

    // zero-survivor corner: the cutoff floors to 0 buckets, no survivor row
    // exists to carry a per-row guard — the union guard must still raise
    // rather than return a silently-empty stratum
    val heavy = (0L until 50L).map(i => (i, "s0", 1000000L)).toDF("doc_id", "src", "n_tok")
    val ex2 = intercept[Exception] {
      Sampling.tokenCapPerStratum(heavy, "src", Map("s0" -> 3L),
        tokensCol = "n_tok", marginPct = 100L).collect()
    }
    assert(ex2.getMessage.contains("marginPct"), s"wrong error: ${ex2.getMessage}")
  }

  // ------------------------------------------------------- product quantization

  /** Scala reference PQ: identical double arithmetic to the Spark
    * expressions (float→double widening is exact; floor(x*1e6) matches),
    * so equality assertions are exact, not approximate.
    */
  private def pqPpmRef(v: Seq[Double]): IndexedSeq[Long] =
    v.map(x => math.floor(x * 1e6).toLong).toIndexedSeq
  private def pqCodesRef(v: Seq[Double]): IndexedSeq[Long] = {
    val p = pqPpmRef(v)
    (0 until Similarity.PQ_M).map { m =>
      (0 until Similarity.PQ_KSUB).minBy { c =>
        val d = (0 until Similarity.PQ_SUBDIM).map { i =>
          val df = p(m * Similarity.PQ_SUBDIM + i) - Similarity.pqCbVal(m, c, i)
          df * df
        }.sum
        (d, c)
      }.toLong
    }
  }
  private def pqAdcRef(q: Seq[Double], codes: IndexedSeq[Long]): Long =
    (0 until Similarity.PQ_M).map { m =>
      val qp = pqPpmRef(q)
      (0 until Similarity.PQ_SUBDIM).map(i =>
        qp(m * Similarity.PQ_SUBDIM + i) *
          Similarity.pqCbVal(m, codes(m).toInt, i)).sum
    }.sum

  test("pqEncode == Scala reference on random vectors (argmin L2, ties to lower code)") {
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextDouble() - 0.5)))
    val got = Similarity.pqEncode(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = pqCodesRef(v.toSeq)
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
      assert(got(id).forall(c => c >= 0 && c < Similarity.PQ_KSUB))
      assert(got(id).size == Similarity.PQ_M)
    }
  }

  test("pqEncode fails fast on wrong-dimension vectors (never silently mis-encodes)") {
    val bad = Seq((1L, Array.fill(10)(0.5))).toDF("vec_id", "embedding")
    val e = intercept[Exception] { Similarity.pqEncode(bad).collect() }
    assert(e.getMessage != null && e.getMessage.contains("dimension"),
      s"wrong error: ${e.getMessage}")
    // the empty-vector corner must ALSO raise: a transform-lambda guard
    // would never run on size 0 and garbage codes would slip through
    val empty = Seq((2L, Array.empty[Double])).toDF("vec_id", "embedding")
    val e2 = intercept[Exception] { Similarity.pqEncode(empty).collect() }
    assert(e2.getMessage != null && e2.getMessage.contains("dimension"),
      s"wrong error: ${e2.getMessage}")
  }

  test("pqKnnOf ADC scores == Scala reference; ranking is (score desc, id)") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 30L).map(i => (i, Array.fill(64)(rnd.nextDouble() - 0.5)))
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val out = Similarity.pqKnn(df, queries, 30).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val codes = vecs.map { case (id, v) => id -> pqCodesRef(v.toSeq) }.toMap
    val qs = vecs.filter(_._1 < 3)
    qs.foreach { case (qid, qv) =>
      vecs.filter(_._1 != qid).foreach { case (nid, _) =>
        val want = pqAdcRef(qv.toSeq, codes(nid))
        assert(out((qid, nid)) == want, s"($qid,$nid): got ${out((qid, nid))}, want $want")
      }
    }
  }

  test("driver embeddings: PQ recall@10 against the exact inner-product top-k") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists(), s"$dir not present")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    // exact INNER-PRODUCT baseline (PQ's ADC estimates the inner product,
    // so that — not cosine — is the apples-to-apples truth set)
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val exact = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .crossJoin(q).where(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", Similarity.dot(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("ip").desc, col("neighbor_id"))))
      .where(col("rank") <= k)
    val truth = exact.select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recall(cbs: Seq[Seq[Seq[Long]]]): (Long, Int) = {
      val got = Similarity.pqKnn(emb, queries, k, cbs)
        .select("query_id", "neighbor_id").collect()
      (got.count(r => truth(r.getLong(0)).contains(r.getLong(1))).toLong, got.length)
    }
    val total = truth.values.map(_.size).sum
    // untrained pseudo-random codebooks reconstruct to noise (PQ replaces
    // the data, unlike IVF centroids which only route) — training is what
    // makes PQ work, and the gap must be large and the trained floor real
    val trained = Similarity.pqTrain(emb, iters = 3)
    val (hitsTrained, n) = recall(trained)
    val (hitsDefault, _) = recall(Similarity.defaultPqCodebooks)
    assert(n == truth.size * k)
    assert(hitsTrained > hitsDefault,
      s"training must beat pseudo-random codebooks: $hitsTrained <= $hitsDefault")
    // 32-bit codes (8 subspaces × 4 bits) on near-isotropic synthetic
    // embeddings measure ~26% recall@10 trained vs ~6% untrained vs ~2%
    // random; 15% is noise-proof while catching a broken encode outright
    assert(hitsTrained * 100 >= total * 15,
      s"trained PQ recall@$k collapsed: $hitsTrained/$total")
    // determinism: retraining on the same corpus yields the same codebooks
    assert(Similarity.pqTrain(emb, iters = 3) == trained)
  }

  // ------------------------------------------------------- overlap matrix

  test("overlapMatrix: unordered source pairs, integer mean, within-source diagonal") {
    val pairs = Seq(
      (1L, 2L, 500000L), (1L, 3L, 800000L), (2L, 3L, 999999L)
    ).toDF("id1", "id2", "jaccard_ppm")
    val sources = Seq(
      (1L, "web"), (2L, "web"), (3L, "curated")).toDF("doc_id", "source")
    val out = Dedup.overlapMatrix(pairs, sources)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      // (1,3) + (2,3) straddle curated/web: mean = (800000+999999) DIV 2
      ("curated", "web", 2L, 899999L),
      // (1,2) is within-source duplication
      ("web", "web", 1L, 500000L)))
  }

  test("calibratedKeep: per-stratum quantile cutoffs, boundary ties keep, target-0 keeps nothing") {
    // stratum A: scores 100..10 (10 docs), keep 30% -> target 3 -> cutoff
    // = 3rd highest = 80; stratum B: all-equal scores (total tie: cutoff
    // = that score, everything keeps); stratum C: 1 doc at 30% -> target
    // floors to 0 -> no cutoff, nothing keeps
    val scored = ((1L to 10L).map(i => (i, "A", i * 10L)) ++
      Seq((21L, "B", 7L), (22L, "B", 7L), (23L, "B", 7L)) ++
      Seq((31L, "C", 999L))).toDF("doc_id", "stratum", "score")
    val out = Sampling.calibratedKeep(scored, "stratum", "score", keepPpm = 300000L)
      .collect().map(r => r.getLong(0) -> ((Option(r.get(3)), r.getBoolean(4)))).toMap
    (1L to 10L).foreach { i =>
      assert(out(i) == ((Some(80L), i * 10L >= 80L)), s"A doc $i: ${out(i)}")
    }
    // B: n=3, target = 0 (3*3e5 DIV 1e6 = 0)? no: 900000 DIV 1e6 = 0 -> nothing keeps
    Seq(21L, 22L, 23L).foreach { i => assert(out(i) == ((None, false)), s"B doc $i: ${out(i)}") }
    assert(out(31L) == ((None, false)))
    // raise B's rate so target reaches 1: the tie group keeps WHOLE
    val out2 = Sampling.calibratedKeep(scored, "stratum", "score", keepPpm = 400000L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    Seq(21L, 22L, 23L).foreach { i => assert(out2(i), s"B tie group must keep whole at 40%") }
  }

  test("contaminationBloom: superset of the exact probe (no false negatives), bounded FPR") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists(), s"$dir not present")
    val docs = graft.tables.Tables.documents(spark, dir)
    // eval set = every 7th doc: real contamination exists (those docs'
    // shingles are fully in-eval), everything else is near-disjoint
    val evalDocs = docs.where(col("doc_id") % 7 === 0)
    val exact = TextAnalysis.contamination(docs, evalDocs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val bloom = TextAnalysis.contaminationBloom(docs, evalDocs,
        expectedShingles = 20000L, fpp = 0.001)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(bloom.keySet == exact.keySet)
    var extra = 0L; var total = 0L
    exact.foreach { case (id, (nSh, nHitExact)) =>
      val (nShB, nHitB) = bloom(id)
      assert(nShB == nSh)
      // ONE-SIDED: every exact hit is a bloom hit (no false negatives)
      assert(nHitB >= nHitExact, s"doc $id lost hits: bloom $nHitB < exact $nHitExact")
      extra += nHitB - nHitExact; total += nSh
    }
    // false positives stay within an order of magnitude of the budget
    // (small-sample noise allowance over ~tens of thousands of probes)
    assert(extra.toDouble / total <= 0.01,
      s"bloom FPR blew the budget: $extra extra hits over $total shingles")
    // fully contaminated docs read exactly fully contaminated either way
    val full = exact.collect { case (id, (n, h)) if n > 0 && n == h => id }
    assert(full.nonEmpty && full.forall(id => bloom(id)._1 == bloom(id)._2))
  }

  test("electKeepersByScore: max score wins, ties to lower id, singletons self-elect") {
    val labeled = Seq(
      (1L, 100L, 500000L), (2L, 100L, 900000L), (3L, 100L, 900000L), // tie 2 vs 3
      (7L, 700L, 10L)).toDF("doc_id", "cluster_id", "quality_ppm")
    val got = Dedup.electKeepersByScore(labeled, "quality_ppm")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got == Map(
      1L -> ((2L, false)), 2L -> ((2L, true)), 3L -> ((2L, false)),
      7L -> ((7L, true))), s"got $got")
    val e = intercept[IllegalArgumentException] {
      Dedup.electKeepersByScore(labeled.drop("quality_ppm"), "quality_ppm")
    }
    assert(e.getMessage.contains("quality_ppm"))
  }

  test("sessionDocs: gap splits sessions; doc_md5 is order-exact over the session's events") {
    def md5Of(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ticks = Seq(
      ("u1", 100L, 1L, "view", 10L),
      ("u1", 200L, 2L, "click", 20L),
      ("u1", 5000L, 3L, "view", 30L), // > 1800s gap: new session
      ("u2", 100L, 4L, "buy", 40L)
    ).toDF("symbol", "secs", "event_id", "event_type", "price_micros")
    val got = TextAnalysis.sessionDocs(ticks, gapSeconds = 1800L)
      .orderBy("symbol", "session_idx").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(got.toSeq == Seq(
      ("u1", 1L, 100L, 200L, 2L, md5Of("view:10 click:20")),
      ("u1", 2L, 5000L, 5000L, 1L, md5Of("view:30")),
      ("u2", 1L, 100L, 100L, 1L, md5Of("buy:40"))), s"got ${got.toSeq}")
    // order exactness: swapping the two u1 events changes the md5
    assert(md5Of("view:10 click:20") != md5Of("click:20 view:10"))
  }

  test("clusterCentroids: exact ppm means, floor on negative sums, null vectors drop") {
    val labeled = Seq((1L, 100L), (2L, 100L), (3L, 300L)).toDF("vec_id", "cluster_id")
    val emb = Seq(
      (1L, Array(0.5, -0.25) ++ Array.fill(62)(0.0)),
      (2L, Array(0.25, -0.5) ++ Array.fill(62)(0.0)),
      (3L, null.asInstanceOf[Array[Double]])).toDF("vec_id", "embedding")
    val got = Similarity.clusterCentroids(labeled, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cluster 100, dim 0: (500000 + 250000)/2 = 375000
    assert(got((100L, 0L)) == 375000L)
    // dim 1: (-250000 + -500000)/2 = -375000 exactly; floor semantics
    // also cover the inexact case: floor(-750001/2) would be -375001
    assert(got((100L, 1L)) == -375000L)
    assert(got((100L, 5L)) == 0L)
    // the null-vector cluster contributes nothing
    assert(!got.keys.exists(_._1 == 300L))
  }

  test("dataCard: per-source rollup with dup rate and dominant language") {
    val docs = Seq(
      // 'web': 4 docs — one is a copy of a curated doc (loses the corpus
      // min-id election -> counts as dup), langs 3×en 1×de
      (10L, "alpha beta gamma delta", "web", "en"),
      (11L, "five six seven eight nine", "web", "en"),
      (12L, "unique web words here", "web", "de"),
      (13L, "curated corpus sentence one", "web", "en"), // copy of doc 1
      // 'curated': 2 docs, all en, no dups (doc 1 is the keeper)
      (1L, "curated corpus sentence one", "curated", "en"),
      (2L, "curated corpus sentence two", "curated", "en")
    ).toDF("doc_id", "text", "source", "lang")
    val got = TextAnalysis.dataCard(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4),
        r.getString(5), r.getLong(6)))
    assert(got(0) == (("curated", 2L, 8L, 0L, "en", 1000000L)), s"got ${got(0)}")
    // web: 4 docs, 4+5+4+4=17 tokens, 1 dup of 4 -> 250000 ppm, en 3/4
    assert(got(1) == (("web", 4L, 17L, 250000L, "en", 750000L)), s"got ${got(1)}")
  }

  test("calibratedKeep: cutoffs broadcast; no corpus-wide rank window in the plan") {
    val scored = (1L to 50L).map(i => (i, s"s${i % 3}", i)).toDF("doc_id", "stratum", "score")
    val plan = Sampling.calibratedKeep(scored, "stratum", "score", 500000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"cutoff table must broadcast:\n${plan.take(2000)}")
    // the only Window runs over the (stratum, score) HISTOGRAM — its input
    // is an aggregate, never the raw corpus rows
    assert(!plan.contains("row_number"),
      s"calibration must not rank the corpus:\n${plan.take(2000)}")
  }

  test("overlapMatrix rejects a pair list without the similarity column") {
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val sources = Seq((1L, "a")).toDF("doc_id", "source")
    val ex = intercept[IllegalArgumentException] {
      Dedup.overlapMatrix(pairs, sources)
    }
    assert(ex.getMessage.contains("jaccard_ppm"))
  }

  test("overlapMatrix: a pair id missing from sources raises instead of silently dropping") {
    val pairs = Seq((1L, 2L, 500000L), (1L, 3L, 400000L)).toDF("id1", "id2", "jaccard_ppm")
    // id 3 has no source row — an inner join would drop the (1,3) pair and
    // under-count n_pairs with no signal; the loud guard must name the id
    val sources = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "source")
    val e = intercept[Exception] {
      Dedup.overlapMatrix(pairs, sources).collect()
    }
    assert(e.getMessage.contains("has no source row") && e.getMessage.contains("3"),
      s"got: ${e.getMessage}")
    // complete lookups still aggregate normally through the left-join path
    val full = sources.unionByName(Seq((3L, "a")).toDF("doc_id", "source"))
    val ok = Dedup.overlapMatrix(pairs, full).orderBy("source_a", "source_b").collect()
    assert(ok.map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n_pairs"))).toSeq ==
      Seq(("a", "a", 1L), ("a", "b", 1L)))
  }

  test("calibratedKeepWith: a NULL score lands kept=false, never a NULL verdict") {
    val scored = Seq((1L, "a", Some(10L)), (2L, "a", None), (3L, "zz", Some(99L)))
      .toDF("doc_id", "stratum", "score")
    val cutoffs = Seq(("a", 5L)).toDF("stratum", "cutoff")
    val out = Sampling.calibratedKeepWith(scored, cutoffs, "stratum", "score")
    val byId = out.collect().map(r => r.getAs[Long]("doc_id") ->
      (if (r.isNullAt(r.fieldIndex("kept"))) null else r.getAs[Boolean]("kept"))).toMap
    assert(byId(1L) == true)
    assert(byId(2L) == false, "NULL score must verdict false, not NULL")
    assert(byId(3L) == false, "unknown stratum verdicts false")
    // the boolean-verdict contract: where(kept) + where(!kept) partition ALL rows
    val n = out.where(col("kept")).count() + out.where(!col("kept")).count()
    assert(n == 3L, s"verdict must be total over the corpus, covered $n of 3")
  }

  test("contaminationBloom: sizing above the engine's bloom ceiling fails fast with the remedy") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val evalDocs = Seq((100L, "a b c")).toDF("doc_id", "text")
    // BloomFilterAggregate silently CLAMPS to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default 2^26) —
    // sizing past it must refuse loudly, or the FPR budget breaks silently
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.contaminationBloom(docs, evalDocs, expectedShingles = 1L << 40)
    }
    assert(e.getMessage.contains("maxNumBits"), s"got: ${e.getMessage}")
    // at legal sizes the probe still runs
    val ok = TextAnalysis.contaminationBloom(docs, evalDocs, expectedShingles = 1000L)
    assert(ok.head.getAs[Long]("contaminated_ppm") == 1000000L)
  }

  test("softDedupWeights: keeper gets 1e6/cluster_size, non-keepers 0, singletons full weight") {
    val labeled = Seq(
      (10L, 10L), (11L, 10L), (12L, 10L), // cluster of 3
      (30L, 30L)).toDF("doc_id", "cluster_id") // singleton
    val got = Dedup.softDedupWeights(labeled).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cluster_size")),
        r.getBoolean(r.fieldIndex("is_keeper")), r.getLong(r.fieldIndex("weight_ppm")))).toSeq
    assert(got == Seq(
      (10L, 3L, true, 333333L),
      (11L, 3L, false, 0L),
      (12L, 3L, false, 0L),
      (30L, 1L, true, 1000000L)))
    // the soft-dedup invariant: total weight == post-dedup corpus size
    assert(got.filter(_._3).map(_._4).sum == 333333L + 1000000L)
  }

  test("clusterStats: histogram arithmetic and corpus shares on a hand labeling") {
    // clusters: {10,11,12} (size 3), {20,21} (size 2), three singletons
    val labeled = Seq(
      (10L, 10L), (11L, 10L), (12L, 10L),
      (20L, 20L), (21L, 20L),
      (30L, 30L), (31L, 31L), (32L, 32L)).toDF("doc_id", "cluster_id")
    val got = Dedup.clusterStats(labeled).orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 3L, 3L, 375000L),
      (2L, 1L, 2L, 250000L),
      (3L, 1L, 3L, 375000L)))
    // the audit identities a data card relies on
    assert(got.map(_._3).sum == 8L, "n_docs must total the corpus")
    assert(got.map(_._2).sum == 5L, "sum(n_clusters) is the post-dedup size")
  }

  test("shingleContainmentOf: full inclusion scores 1e6 where Jaccard stays low") {
    val big = (1 to 20).map(i => s"tok$i").mkString(" ")    // 18 shingles
    val sub = (5 to 10).map(i => s"tok$i").mkString(" ")    // 4 shingles, all inside big
    val docs = Seq((1L, big), (2L, sub)).toDF("doc_id", "text")
    val sh = Dedup.shingleRows(docs)
    val got = Dedup.shingleContainmentOf(sh, thresholdPpm = 0L, dfCap = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // sub fully contained in big; big barely contained in sub — the
    // asymmetry that makes resemblance miss wholesale quoting
    assert(got((2L, 1L)) == 1000000L)
    assert(got((1L, 2L)) == 4L * 1000000L / 18L)
    val jac = Dedup.ngramJaccardPairsOf(sh).collect().head.getLong(2)
    assert(jac == got((1L, 2L)), "Jaccard of a strict subset pair equals the super-side containment")
    // the directional threshold keeps only the quoting direction
    val thr = Dedup.shingleContainmentOf(sh, thresholdPpm = 900000L, dfCap = 0L).collect()
    assert(thr.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)))
  }

  test("jaccardForPairsOf + coShinglingPairs: explicit-pair verification, zero for disjoint pairs") {
    val docs = Seq(
      (1L, "a b c d e f"),   // shingles: abc bcd cde def
      (2L, "c d e f g h"),   // cde def efg fgh — shares cde, def with doc 1
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val sh = Dedup.shingleRows(docs)
    // candidate generator only surfaces co-shingling pairs
    val cands = Dedup.coShinglingPairs(sh, dfCap = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((1L, 2L)))
    // explicit pairs verify with FULL-set Jaccard; a disjoint pair is 0,
    // not absent (the audit needs every asked-about pair answered)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val got = Dedup.jaccardForPairsOf(sh, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 2L * 1000000L / 6L) // |∩|=2, |∪|=4+4-2
    assert(got((1L, 3L)) == 0L)
    // a pair whose endpoint has ZERO shingle rows (doc under the shingle
    // length, or an id absent from sh entirely) still answers 0 — the
    // documented every-input-pair contract; an inner join on sizes would
    // silently drop it and understate audit denominators
    val shortDocs = docs.unionByName(Seq((4L, "a b"), (5L, "")).toDF("doc_id", "text"))
    val shortPairs = Seq((1L, 4L), (4L, 5L), (1L, 99L)).toDF("id1", "id2")
    val got2 = Dedup.jaccardForPairsOf(Dedup.shingleRows(shortDocs), shortPairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got2 == Map((1L, 4L) -> 0L, (4L, 5L) -> 0L, (1L, 99L) -> 0L),
      "every input pair must appear, including zero-shingle and both-empty endpoints")
  }

  test("shingleContainmentOf: property — equals brute-force set containment on random corpora") {
    val rnd = new scala.util.Random(0xc047a1)
    (1 to 3).foreach { round =>
      val docs = (1L to 12L).map { i =>
        val n = 3 + rnd.nextInt(10)
        (i, Seq.fill(n)("w" + rnd.nextInt(8)).mkString(" "))
      }
      def shs(t: String): Set[String] =
        t.split(' ').filter(_.nonEmpty).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val sets = docs.map { case (i, t) => i -> shs(t) }.toMap
      val want = (for {
        (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
        if a != b && sa.nonEmpty
        inter = (sa & sb).size
        if inter > 0
        c = inter.toLong * 1000000L / sa.size
        if c >= 300000L
      } yield (a, b, c)).toSet
      val got = Dedup.shingleContainmentOf(
          Dedup.shingleRows(docs.toDF("doc_id", "text")), thresholdPpm = 300000L, dfCap = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"round $round: containment diverged from the set reference")
    }
  }

  test("fertilityByLang: scan-side lang rollup == per-doc encode arithmetic") {
    val docs = Seq(
      (1L, "en", "the other and another the"),
      (2L, "en", "stone store then"),
      (3L, "zz", "qqq zzz"),
      (4L, "zz", "")).toDF("doc_id", "lang", "text")
    val got = Bpe.fertilityByLang(docs).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // independent arithmetic: per-doc BPE counts from the scan-side encode
    val enc = Bpe.encode(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def agg(ids: Seq[Long]) = {
      val ws = ids.map(enc(_)._1).sum; val bpe = ids.map(enc(_)._2).sum
      (ws, bpe, bpe * 1000000L / math.max(ws, 1L))
    }
    val (enWs, enBpe, enF) = agg(Seq(1L, 2L))
    val (zzWs, zzBpe, zzF) = agg(Seq(3L, 4L))
    assert(got == Seq(("en", enWs, enBpe, enF), ("zz", zzWs, zzBpe, zzF)))
    // the under-served language reads higher fertility: no rule matches
    // qqq/zzz so every character is its own token
    assert(zzF > enF)
    // a language whose docs are ALL empty still reports (0,0,0) — absent
    // from the report would read as "not ingested"
    val withEmpty = docs.unionByName(Seq((9L, "xx", "")).toDF("doc_id", "lang", "text"))
    val xx = Bpe.fertilityByLang(withEmpty).where(col("lang") === "xx").collect()
    assert(xx.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq == Seq((0L, 0L, 0L)))
    // an UN-TAGGED (NULL-lang) stratum with real words must report its own
    // aggregate, not zero out through a null-unsafe join
    val withNull = docs.unionByName(
      Seq((10L, Option.empty[String], "the and")).toDF("doc_id", "lang", "text"))
    val nl = Bpe.fertilityByLang(withNull).where(col("lang").isNull).collect()
    assert(nl.length == 1 && nl.head.getLong(1) == 2L && nl.head.getLong(2) > 0L,
      "NULL-lang stratum with words must carry its real counts")
  }

  test("knnLabelEval: majority vote, lower-label ties, neighborless queries count incorrect") {
    // knn output for q1 (votes 2:1 for label 7), q2 (1:1 tie between 3
    // and 5 -> smaller label 3 wins); q3 produced no neighbors at all
    val knn = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val corpusLabels = Seq((10L, 7), (11L, 7), (12L, 9), (20L, 3)).toDF("vec_id", "label")
    val queries = Seq((1L, 7), (2L, 5), (3L, 5)).toDF("vec_id", "label")
    val got = Similarity.knnLabelEval(knn, corpusLabels, queries).orderBy("true_label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // q2's neighbors are labels 7 and 3 -> tie broken to 3, wrong vs 5;
    // q3 has no prediction and counts incorrect but visible in n_predicted
    assert(got == Seq(
      (5L, 2L, 1L, 0L, 0L),
      (7L, 1L, 1L, 1L, 1000000L)))
  }

  test("madOutliers: median/MAD flags the outlier the mean would hide; zero-MAD and singleton strata") {
    val scored = Seq(
      // stratum a: scores 10,12,14,16,1000 — med 14, deviations 4,2,0,2,986
      // -> MAD 2; at k=2.0 the threshold is 4 exactly, so only 1000 flags
      (1L, "a", 10L), (2L, "a", 12L), (3L, "a", 14L), (4L, "a", 16L), (5L, "a", 1000L),
      // stratum b: constant scores except one — MAD 0, ANY deviation flags
      (6L, "b", 7L), (7L, "b", 7L), (8L, "b", 7L), (9L, "b", 8L),
      // stratum c: a single row — med = own score, dev 0, never an outlier
      (10L, "c", 99L)).toDF("doc_id", "stratum", "score")
    val got = Sampling.madOutliers(scored, "stratum", "score", kMilli = 2000L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    // a: med 14 (upper median of 5 desc: target 3 -> 14), MAD 2
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(3L) == ((3L, 14L, 2L, false)))
    // |10-14|=4; 4*1000 > 2000*2 is false (equal) -> boundary stays in
    assert(byId(1L)._4 == false)
    assert(byId(5L)._4 == true, "the gross outlier must flag")
    // zero-MAD stratum: med 7, MAD 0 -> the single deviating row flags
    assert(byId(6L) == ((6L, 7L, 0L, false)))
    assert(byId(9L) == ((9L, 7L, 0L, true)))
    // singleton stratum
    assert(byId(10L) == ((10L, 99L, 0L, false)))
  }

  test("dsirWeights: equals a Scala reference; target-like docs out-weight divergent ones") {
    val raw = Seq(
      (1L, "the cat sat on the mat and the cat ran"),
      (2L, "zzz qqq www zzz qqq www zzz qqq www"),
      (3L, "x")).toDF("doc_id", "text")
    val targetRows = Seq("the cat sat on the mat", "the cat ran to the mat")
    val target = targetRows.zipWithIndex.map { case (t, i) => (100L + i, t) }
      .toDF("doc_id", "text")
    // independent reference: the same Laplace bit-length formula in plain
    // Scala over the fixture
    def bigrams(t: String) = {
      val w = t.split(' ').filter(_.nonEmpty); w.zip(w.drop(1)).toSeq
    }
    val rawDocs = Seq(1L -> "the cat sat on the mat and the cat ran",
      2L -> "zzz qqq www zzz qqq www zzz qqq www", 3L -> "x")
    val rbg = rawDocs.flatMap { case (_, t) => bigrams(t) }
    val tbg = targetRows.flatMap(bigrams)
    val (rbc, rlc) = (rbg.groupBy(identity).view.mapValues(_.size).toMap,
      rbg.groupBy(_._1).view.mapValues(_.size).toMap)
    val (tbc, tlc) = (tbg.groupBy(identity).view.mapValues(_.size).toMap,
      tbg.groupBy(_._1).view.mapValues(_.size).toMap)
    val vR = rawDocs.flatMap(_._2.split(' ').filter(_.nonEmpty)).distinct.size.toLong
    val vT = targetRows.flatMap(_.split(' ').filter(_.nonEmpty)).distinct.size.toLong
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length
    def wOf(doc: String): (Long, Long) = {
      val bs = bigrams(doc)
      val ws = bs.map { b =>
        (bits(tbc.getOrElse(b, 0) + 1L) - bits(tlc.getOrElse(b._1, 0) + vT)) -
          (bits(rbc(b) + 1L) - bits(rlc(b._1) + vR))
      }
      (bs.size.toLong, ws.map(_.toLong).sum)
    }
    val got = Sampling.dsirWeights(raw, target).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byId = got.map(t => t._1 -> t).toMap
    rawDocs.take(2).foreach { case (id, t) =>
      val (n, s) = wOf(t)
      assert(byId(id)._2 == n && byId(id)._3 == s,
        s"doc $id: got ${byId(id)}, reference ($n, $s)")
    }
    // the point of the operator: target-like beats divergent
    assert(byId(1L)._4 > byId(2L)._4, s"ordering failed: $got")
    // single-token doc: no transitions, zeros, still present
    assert(byId(3L) == ((3L, 0L, 0L, 0L)))
  }

  test("dsirWeights: English target ranks English docs above non-English at sf0.001") {
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
    val w = Sampling.dsirWeights(docs, docs.where(col("lang") === "en"))
      .join(docs.select("doc_id", "lang"), "doc_id")
    val means = w.groupBy(col("lang") === "en")
      .agg(avg(col("weight_milli")).as("m")).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"English docs must out-weight non-English under an English target: $means")
  }

  test("refIvfCentroids: the frozen literal equals a fresh KMeans.train on its corpus (sf0.01)") {
    val fresh = KMeans.train(
      graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.01"),
      nCells = Similarity.refIvfCentroids.size)
    assert(fresh == Similarity.refIvfCentroids,
      "frozen IVF centroid table drifted from a fresh train on the same corpus")
  }

  test("refResidualPqCodebooks: the frozen literal equals a fresh pqTrainResidual on its corpus (sf0.01)") {
    val fresh = Similarity.pqTrainResidual(
      graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.01"),
      Similarity.refIvfCentroids, iters = 8)
    assert(fresh == Similarity.refResidualPqCodebooks,
      "frozen residual codebook table drifted from a fresh train on the same corpus")
  }

  test("refRotationPpm: the frozen literal equals a fresh Rotation.trainPpm on its corpus (sf0.1)") {
    val fresh = Rotation.trainPpm(
      graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.1"))
    assert(fresh == Similarity.refRotationPpm,
      "frozen rotation drifted from a fresh train on the same corpus")
  }

  test("refRotPqCodebooks: the frozen literal equals a fresh pqTrainPpm over the rotated corpus (sf0.01)") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val rot = emb.select(col("vec_id"),
      Similarity.rotatePpmLong(col("embedding")).as("embedding"))
    val fresh = Similarity.pqTrainPpm(rot)
    assert(fresh == Similarity.refRotPqCodebooks,
      "frozen rotated-basis codebook table drifted from a fresh train on the same corpus")
  }

  test("ivfPqEncode consistency: codes are the true residual argmin, nrm2 the true reconstruction norm, residual beats flat reconstruction") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = Similarity.refIvfCentroids
    val rcb = Similarity.refResidualPqCodebooks
    val centPpm = cents.map(_.map(x => math.floor(x * 1e6).toLong))
    val enc = Similarity.ivfPqEncode(emb, cents, rcb).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2), r.getLong(3)))).toMap
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(enc.keySet == vecs.keySet, "every non-null vector must encode")
    var resErr = 0.0
    var flatErr = 0.0
    val fcb = Similarity.refPqCodebooks
    val flat = Similarity.pqEncode(emb, fcb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vecs.foreach { case (id, v) =>
      val p = v.map(x => math.floor(x * 1e6).toLong)
      val (cell, codes, nrm2) = enc(id)
      // independent argmin: the operator's codes must be exactly the
      // per-subspace L2-nearest residual codebook entries (ties to the
      // lower code, the struct-ordering contract)
      val r = (0 until 64).map(i => p(i) - centPpm(cell.toInt)(i))
      (0 until 8).foreach { m =>
        val want = (0 until 16).map { c =>
          val d = (0 until 8).map { i =>
            val x = r(m * 8 + i) - rcb(m)(c)(i); x * x
          }.sum
          (d, c.toLong)
        }.min._2
        assert(codes(m) == want, s"vec $id subspace $m: code ${codes(m)} != argmin $want")
      }
      // nrm2 is the exact integer norm of centroid + codebook[codes]
      val recon = (0 until 64).map(i => centPpm(cell.toInt)(i) + rcb(i / 8)(codes(i / 8).toInt)(i % 8))
      assert(nrm2 == recon.map(x => x * x).sum, s"vec $id: stored nrm2 diverges")
      resErr += (0 until 64).map(i => { val d = (p(i) - recon(i)).toDouble; d * d }).sum
      val frecon = (0 until 64).map(i => fcb(i / 8)(flat(id)(i / 8).toInt)(i % 8))
      flatErr += (0 until 64).map(i => { val d = (p(i) - frecon(i)).toDouble; d * d }).sum
    }
    // the point of residual encoding: at the same bit budget, quantizing
    // what the coarse quantizer leaves unexplained reconstructs better
    assert(resErr < flatErr,
      s"residual reconstruction error $resErr must beat flat trained PQ $flatErr")
  }

  test("ivfPqKnnOf over a pre-encoded store == inline ivfPqKnn; recall criterion holds at sf0.01") {
    val emb = graft.tables.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val qs = emb.filter(col("vec_id") < 10)
    val cents = Similarity.refIvfCentroids
    val rcb = Similarity.refResidualPqCodebooks
    val inline = Similarity.ivfPqKnn(emb, qs, 3, cents, rcb)
      .collect().map(_.toSeq).toSet
    val staged = Similarity.ivfPqKnnOf(
        Similarity.ivfPqEncode(emb, cents, rcb), qs, 3, cents, rcb)
      .collect().map(_.toSeq).toSet
    assert(inline == staged, "pre-encoded probe must be a pure optimization")
    // the residual-coding criterion: at the full probe budget (every cell
    // — isolating quantization quality from routing), residual codes must
    // recall at least as well as the flat trained codebooks
    val exact = Similarity.bruteForceKnn(emb, qs, 3).select("query_id", "neighbor_id")
    def recallOf(a: org.apache.spark.sql.DataFrame): Long =
      Similarity.knnRecall(exact, Seq("x" -> a)).head().getLong(3)
    val full = recallOf(Similarity.ivfPqKnn(emb, qs, 3, cents, rcb, nprobe = cents.size))
    val flat = recallOf(Similarity.pqKnn(emb, qs, 3, Similarity.refPqCodebooks))
    assert(full >= flat, s"residual IVFPQ recall $full must be >= flat trained PQ $flat")
  }

  test("cellPurity: dominant-label share per cell, lower-label ties") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq(
      (1L, Seq(1.0f, 0.1f), 7), (2L, Seq(0.9f, 0.2f), 7), (3L, Seq(1.0f, 0.0f), 9),
      (4L, Seq(0.1f, 1.0f), 3),
      (5L, null.asInstanceOf[Seq[Float]], 1)) // null vec drops, never poisons
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.cellPurity(corpus, cents).orderBy("cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (0L, 3L, 7L, 2L, 666666L),
      (1L, 1L, 3L, 1L, 1000000L)))
  }

  test("connectedComponents + star: reliable checkpoint path labels identically") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    // the driver arm checkpoints nothing; the distributed (star) arm,
    // forced with driverEdgeLimit = 0, checkpoints every round
    val want = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      // without a checkpoint dir the reliable path must fail fast naming
      // the remedy (Spark's own late error names neither conf nor caller)
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalArgumentException](
          Dedup.connectedComponents(pairs, driverEdgeLimit = 0))
        assert(e.getMessage.contains("setCheckpointDir"))
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(dir)
      val got = Dedup.connectedComponents(pairs, driverEdgeLimit = 0).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }
}
