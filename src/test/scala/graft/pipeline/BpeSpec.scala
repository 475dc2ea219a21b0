package graft.pipeline

import graft.SparkSpec
import graft.functions.BpeKernel
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** The BPE expression kernel must equal the classic greedy
  * lowest-rank-first encode (implemented literally below as the reference
  * model), reject malformed merge tables, and compose with the
  * token-denominated operators.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** Literal greedy BPE (Sennrich encode loop) over a word's code points:
    * find the lowest-rank pair present anywhere, merge ALL its occurrences
    * left-to-right, repeat.
    */
  private def greedyBpe(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms = word.codePoints.toArray.map(Character.toString).toVector
    var done = false
    while (!done) {
      merges.find { case (a, b) =>
        syms.indices.dropRight(1).exists(i => syms(i) == a && syms(i + 1) == b)
      } match {
        case None => done = true
        case Some((a, b)) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += syms(i); i += 1 }
          }
          syms = out.result()
      }
    }
    syms
  }

  private def exprSyms(words: Seq[String]): Map[String, Seq[String]] =
    words.toDF("text")
      .select(col("text"), Bpe.syms(col("text")).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap

  test("hand-checked merges: rank order, all occurrences, chained compounds") {
    val got = exprSyms(Seq("the", "thin", "and", "banana", "thethe", "x"))
    assert(got("the") == Seq("the"))          // t+h -> th, th+e -> the
    assert(got("thin") == Seq("th", "in"))    // two independent rules
    assert(got("and") == Seq("and"))          // a+n -> an, an+d -> and
    assert(got("banana") == Seq("b", "an", "an", "a")) // all occurrences, one pass
    assert(got("thethe") == Seq("the", "the"))
    assert(got("x") == Seq("x"))              // no rule: single char survives
  }

  test("expression encode == greedy reference on real corpus words (sf0.001)") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(explode(expr(graft.pipeline.TextOps.toksS("text"))).as("w"))
      .distinct().limit(500).collect().map(_.getString(0)).toSeq
    assert(corpus.size > 20, "corpus fixture must supply real words")
    // adversarial shapes: repeated pairs, rule chains, compound prefixes,
    // digits, rule-dense runs
    val words = (corpus ++ Seq(
      "ththth", "erere", "rerere", "ananan", "andandand", "inging",
      "thethethe", "onstonst", "ratatat", "a1n2d3", "xyzzy", "t", "at",
      "stationer", "threading", "reinstating", "organization")).distinct
    val got = exprSyms(words)
    words.foreach { w =>
      val want = greedyBpe(w, Bpe.merges)
      assert(got(w) == want, s"word '$w': expression ${got(w)} != greedy $want")
    }
  }

  test("expression encode == greedy reference on seeded-random rule-dense words") {
    // words over the rule alphabet maximize merge interactions (chained
    // compounds, repeated pairs, rule-order sensitivity); seeded so the
    // property run is deterministic
    val rnd = new scala.util.Random(0x5eed)
    val alphabet = "theinandrgost".toCharArray
    val words = (1 to 300).map { _ =>
      val len = 1 + rnd.nextInt(12)
      String.valueOf(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))))
    }.distinct
    val got = exprSyms(words)
    words.foreach { w =>
      val want = greedyBpe(w, Bpe.merges)
      assert(got(w) == want, s"word '$w': expression ${got(w)} != greedy $want")
      // lossless: symbols concatenate back to the word
      assert(got(w).mkString == w)
    }
  }

  test("validate rejects malformed merge tables") {
    // left == right: the simultaneous-merge form would be unsound
    assert(intercept[IllegalArgumentException] {
      Bpe.validate(Seq(("a", "a")))
    }.getMessage.contains("left == right"))
    // forward reference: compound used before produced
    assert(intercept[IllegalArgumentException] {
      Bpe.validate(Seq(("th", "e"), ("t", "h")))
    }.getMessage.contains("well-formed"))
    // duplicate production
    assert(intercept[IllegalArgumentException] {
      Bpe.validate(Seq(("t", "h"), ("t", "h")))
    }.getMessage.contains("twice"))
    Bpe.validate(Bpe.merges) // the shipped table passes
  }

  test("encode summary: ids are code points / VOCAB_BASE+rank; md5 is the exact id stream") {
    val out = Bpe.encode(Seq((1L, "the and x")).toDF("doc_id", "text")).collect()(0)
    assert(out.getAs[Long]("n_ws_tokens") == 3L)
    assert(out.getAs[Long]("n_bpe_tokens") == 3L) // [the, and, x]
    val wantIds = Seq(Bpe.vocabIds("the"), Bpe.vocabIds("and"), 'x'.toInt)
    assert(wantIds == Seq(Bpe.VOCAB_BASE + 1, Bpe.VOCAB_BASE + 4, 120))
    val wantMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(wantIds.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.getAs[String]("ids_md5") == wantMd5)

    // edge inputs, with the values the encode, the code-point round trip
    // and the byte round trip give them: NULL, empty and blank texts, runs
    // of spaces, multi-byte + emoji, a repeated word, tab words around a
    // space (its marker id 32 must not count as a base id) and a single word
    val edge = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "   "), (4L, " the  and "),
      (5L, "café 😀"), (6L, "the the the"), (7L, "\t \t"), (8L, "x")).toDF("doc_id", "text")
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq.tail).toSeq
    val (the, and) = (Bpe.VOCAB_BASE + 1, Bpe.VOCAB_BASE + 4)
    val empty = md5("")
    assert(rows(Bpe.encode(edge)) == Seq(
      Seq(null, 0L, empty), Seq(0L, 0L, empty), Seq(0L, 0L, empty),
      Seq(2L, 2L, md5(s"$the,$and")),
      Seq(2L, 5L, md5("99,97,102,233,128512")),
      Seq(3L, 3L, md5(s"$the,$the,$the")),
      Seq(2L, 2L, md5("9,9")),
      Seq(1L, 1L, md5("120"))))
    assert(rows(Bpe.decodeRoundTrip(edge)) == Seq(
      Seq(0L, empty, true), Seq(0L, empty, true), Seq(0L, empty, true),
      Seq(3L, md5("the and"), true),
      Seq(6L, md5("café 😀"), true),
      Seq(5L, md5("the the the"), true),
      Seq(3L, md5("\t \t"), true),
      Seq(1L, md5("x"), true)))
    // byte model: café is 5 bytes, the emoji 4 (lead byte 0xF0 = 240);
    // a text of compounds only has no base id (-1); the tab is byte 9
    assert(rows(Bpe.byteRoundTrip(edge)) == Seq(
      Seq(0L, empty, true, -1L), Seq(0L, empty, true, -1L), Seq(0L, empty, true, -1L),
      Seq(3L, md5("the and"), true, -1L),
      Seq(10L, md5("café 😀"), true, 240L),
      Seq(5L, md5("the the the"), true, -1L),
      Seq(3L, md5("\t \t"), true, 9L),
      Seq(1L, md5("x"), true, 120L)))
  }

  test("mixtureByBudget composes on BPE counts (budgets denominated in subword tokens)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"),
        Bpe.nTokens(col("text")).as("n_tok"))
    val srcTotal = docs.where(col("source") === "src0").count()
    assert(srcTotal > 2, "fixture needs a populated stratum")
    val budget = docs.where(col("source") === "src0")
      .agg(sum("n_tok")).head.getLong(0) / 2 // half the stratum's BPE tokens
    val kept = Sampling.mixtureByBudget(docs, "source", Map("src0" -> budget),
      tokensCol = "n_tok", defaultPpm = 0L)
    val rows = kept.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[String]("source") == "src0"),
      "zero default must drop unbudgeted strata")
    assert(rows.length < srcTotal, "a half-token budget must subsample the stratum")
    // deterministic: the same budget picks the same docs on a re-run
    assert(Sampling.mixtureByBudget(docs, "source", Map("src0" -> budget),
        tokensCol = "n_tok", defaultPpm = 0L)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq ==
      rows.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("vocabCoverage composes on the BPE symbol stream (subword vocab-sizing curve)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bpe = TextAnalysis.vocabCoverage(docs, topK = 10, tokenizer = c => Bpe.syms(col(c))).collect()
    assert(bpe.length == 10)
    // the subword head contains single chars or compounds, never a
    // whitespace word longer than the longest merge output
    val maxSym = Bpe.vocabIds.keys.map(_.length).max
    assert(bpe.forall(_.getAs[String]("token").length <= maxSym))
    // coverage is cumulative and monotone
    val cums = bpe.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cum_ppm"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b })
    // and differs from the whitespace curve (the recomposition is real)
    val ws = TextAnalysis.vocabCoverage(docs, topK = 10).collect()
    assert(ws.map(_.getAs[String]("token")).toSeq != bpe.map(_.getAs[String]("token")).toSeq)
  }

  test("train: learns the expected merges on a constructed corpus, in frequency order") {
    // 'ab' appears 12x adjacent, 'bc' 9x (within abc), 'cd' 6x; training
    // must learn (a,b) first, then — after ab absorbs the b's — the
    // remaining top pairs over the updated dict
    val docs = Seq(
      (1L, "ab ab ab ab ab ab"),
      (2L, "abc abc abc abc abc abc abc abc abc"),
      (3L, "cd cd cd cd cd cd")).toDF("doc_id", "text")
    val learned = Bpe.train(docs, nMerges = 3)
    assert(learned.head == (("a", "b")), s"most frequent pair first, got $learned")
    assert(learned.contains(("c", "d")), s"got $learned")
    assert(learned.contains(("ab", "c")), s"'abc' must merge via the learned 'ab', got $learned")
    Bpe.validate(learned) // trained tables are well-formed by construction
  }

  test("train -> encode composes: trained merges drive symsWithS and match the greedy reference") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val learned = Bpe.train(docs, nMerges = 8)
    assert(learned.size == 8)
    Bpe.validate(learned)
    // deterministic: identical corpus trains the identical table
    assert(Bpe.train(docs, nMerges = 8) == learned)
    // the trained table compresses: fewer symbols than characters
    val words = docs.select(explode(expr(TextOps.toksS("text"))).as("w"))
      .distinct().limit(100).collect().map(_.getString(0)).toSeq
    val enc = words.toDF("text")
      .select(col("text"), Bpe.syms(col("text"), learned).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    val nSyms = enc.values.map(_.size).sum
    val nChars = words.map(_.length).sum
    assert(nSyms < nChars, s"trained merges must compress: $nSyms symbols vs $nChars chars")
    // expression encode under the trained table == greedy reference
    words.foreach { w =>
      assert(enc(w) == greedyBpe(w, learned), s"word '$w' diverges under trained merges")
    }
  }

  test("train + encode survive symbols needing SQL escaping (apostrophes)") {
    val docs = Seq((1L, "don't don't don't can't")).toDF("doc_id", "text")
    val learned = Bpe.train(docs, nMerges = 2)
    assert(learned.nonEmpty)
    // the apostrophe-bearing merges round-trip through generated SQL
    val out = Seq(("don't")).toDF("text")
      .select(Bpe.syms(col("text"), learned).as("syms"))
      .head.getSeq[String](0).toSeq
    assert(out == greedyBpe("don't", learned), s"got $out for $learned")
  }

  test("BPE counting is streaming-legal: pure scan-side projection over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), Bpe.nTokens(col("text")).as("n_bpe"))
      .writeStream.format("memory").queryName("bpe_stream_out").outputMode("append").start()
    try {
      input.addData(Seq((1L, "the and"), (2L, "banana")))
      q.processAllAvailable()
      val got = spark.table("bpe_stream_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // [the]+[and] = 2; banana -> [b, an, an, a] = 4 — the same counts the
      // batch kernel produces, so ingest-side token accounting (quota,
      // budget admission) can run statelessly in the stream
      assert(got == Map(1L -> 2L, 2L -> 4L))
    } finally q.stop()
  }

  test("packChunks composes on BPE counts (token-denominated packing)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), Bpe.nTokens(col("text")).as("n_tokens"))
    val packed = Packing.packChunks(docs, ctxTokens = 512L, nShards = 4)
    // every doc packed; offsets consistent: total tokens == sum of per-shard
    // stream lengths (the last doc's start + its tokens, per shard)
    val total = docs.agg(sum("n_tokens")).head.getLong(0)
    val byShard = packed.join(docs, "doc_id")
      .groupBy("shard").agg(max(col("start_tok") + col("n_tokens")).as("end_tok"))
      .agg(sum("end_tok")).head.getLong(0)
    assert(total == byShard, s"BPE-token stream must pack exactly: $total != $byShard")
    // BPE counts differ from whitespace counts (the approximation is real)
    val ws = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(sum(expr(s"size(${TextOps.toksS("text")})"))).head.getLong(0)
    assert(total > ws, "subword count must exceed whitespace token count")
  }

  test("decode inverts encode: per-word round trip exact on seeded rule-dense words") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xdec0de)
    val alphabet = "theinandrgost".toCharArray
    val words = (1 to 200).map { _ =>
      val len = 1 + rnd.nextInt(12)
      String.valueOf(Array.fill(len)(alphabet(rnd.nextInt(alphabet.length))))
    }.distinct
    // single-word documents: the spaced stream has no space markers, so
    // the byte-exact contract degenerates to exact word equality
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = Bpe.decodeRoundTrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    words.zipWithIndex.foreach { case (w, i) =>
      val (md5got, ok) = got(i.toLong)
      assert(ok, s"round trip failed for '$w'")
      val md5want = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(md5got == md5want, s"decoded text of '$w' is not the word itself")
    }
  }

  test("decodeRoundTrip is BYTE-EXACT on multi-word docs (space marker id 32 in the stream)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the hat"),
      (2L, "single"),
      (3L, "  doubled  spaces   normalize "), // tokenizer normalization: ok means vs single-spaced form
      (4L, "a\nb c")) // newline is INSIDE a token (split is on ' ' only) and must survive
      .toDF("doc_id", "text")
    val out = Bpe.decodeRoundTrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // byte-exact: the decoded md5 IS the md5 of the original text
    assert(out(1L) == ((md5("the cat and the hat"), true)))
    assert(out(2L) == ((md5("single"), true)))
    assert(out(4L) == ((md5("a\nb c"), true)))
    // whitespace-normalized input decodes to the normalized form — still
    // roundtrip_ok by the documented contract (the tokenizer itself
    // collapses the runs), and the decode equals the single-spaced text
    assert(out(3L) == ((md5("doubled spaces normalize"), true)))
  }

  test("decode is codepoint-correct: non-Latin-1 chars round-trip; U+0100 cannot collide with a compound id") {
    import spark.implicits._
    // U+0100 'Ā' IS 256 — under the old base-256 id space it was compound
    // rank 0 ("th") and decoded wrongly; Spark's char(n) is also mod-256,
    // which silently corrupted every non-Latin-1 code point
    val docs = Seq(
      (1L, "café résumé"),
      (2L, "ĀbĀ"),
      (3L, "中文 tokens"),
      (4L, "emoji 😀 ok")).toDF("doc_id", "text") // U+1F600: supplementary plane
    val out = Bpe.decodeRoundTrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getBoolean(3)))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((md5("café résumé"), true)))
    assert(out(2L) == ((md5("ĀbĀ"), true)))
    assert(out(3L) == ((md5("中文 tokens"), true)))
    assert(out(4L) == ((md5("emoji 😀 ok"), true)),
      "supplementary-plane code points must round-trip (one char, one id)")
  }

  test("byteRoundTrip: byte-exact on multi-byte scripts with a BOUNDED base alphabet") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the hat"),          // pure ASCII, merges fire
      (2L, "café résumé"),                  // 2-byte UTF-8 sequences
      (3L, "中文 tokens here"),              // 3-byte CJK
      (4L, "emoji 😀 ok"),                  // 4-byte supplementary plane
      (5L, "ĀbĀ"))                          // the U+0100 collision char
      .toDF("doc_id", "text")
    val out = Bpe.byteRoundTrip(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getBoolean(3), r.getLong(4)))).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.collect().foreach { r =>
      val (id, text) = (r.getLong(0), r.getString(1))
      val (_, dm, ok, maxb) = out(id)
      assert(ok, s"byte round trip failed for doc $id")
      assert(dm == md5(text), s"decoded text of doc $id is not byte-exact")
      // the whole point of byte fallback: base ids bounded at 255 no
      // matter how exotic the code points (the code-point model needs
      // ids up to 0x1F600 for the same input)
      assert(maxb <= 255L, s"doc $id leaked a base id above the byte range: $maxb")
    }
    // merges fire on the carrier string exactly as on chars: "the" is one
    // compound, "cat" is c + at, "and" is one compound, "hat" is h + at
    // -> 1 + 2 + 1 + 1 + 2 symbols + 4 space markers = 11
    assert(out(1L)._1 == 11L, s"got ${out(1L)._1}")
  }

  test("byte model == code-point model on printable ASCII (strict extension)") {
    // on printable pure-ASCII text every byte IS its code point, so the
    // two models produce the same symbol stream, counts, and decode
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bytes = Bpe.byteRoundTrip(docs).select("doc_id", "n_bpe_tokens", "decoded_md5")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val cps = Bpe.decodeRoundTrip(docs).select("doc_id", "n_bpe_tokens", "decoded_md5")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(bytes == cps,
      "byte-fallback must agree with the code-point model on ASCII input")
  }

  test("decode NULL-guards hostile ids: negative, surrogate block, unknown compound — no crash") {
    import spark.implicits._
    // a corrupted EXTERNAL id stream can hold values the encoder never
    // emits — NULLs, negatives, the UTF-16 surrogate block (U+D800–U+DFFF),
    // ids past the table — and the decode must skip them (the corruption
    // surfaces as a round-trip mismatch, not an executor crash)
    val hostile = Seq((1L, Seq(Some(97L), None, Some(-5L), Some(0xD800L), Some(0xDFFFL), Some(256L),
      Some(Bpe.VOCAB_BASE + 9999L), Some(Long.MaxValue), Some(98L)))).toDF("doc_id", "ids")
    // code points: 256 is 'Ā'; bytes: 256 is no byte
    assert(hostile.select(Bpe.decode(col("ids"))).head.getString(0) == "aĀb",
      "hostile ids must decode to NULL (skipped), valid ids must survive")
    assert(hostile.select(Bpe.decode(col("ids"), bytes = true)).head.getString(0) == "ab")
  }

  test("decodeRoundTrip holds corpus-wide at sf0.001 (byte-exact contract)") {
    val out = Bpe.decodeRoundTrip(Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(out.where(!col("roundtrip_ok")).isEmpty,
      "decode(encode(doc)) must be byte-exact (modulo whitespace normalization) for every document")
    // stronger than the flag for well-formed corpus text (no doubled
    // spaces in the synthetic docs): decoded md5 == md5(text) itself
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val joined = docs.join(out, "doc_id")
      .where(col("decoded_md5") =!= md5(col("text")))
    assert(joined.isEmpty, "decoded text must hash-equal the original document text")
  }

  test("refTrainedMerges: the frozen literal equals a fresh train on its corpus (sf0.01)") {
    // the discipline that keeps a baked model artifact honest: training is
    // deterministic (integer counts, lexical tie-breaks), so drift between
    // the literal and the trainer means one of them changed — fail loudly
    val fresh = Bpe.train(
      Tables.documents(spark, "/root/testdata/sf0.01"),
      nMerges = Bpe.refTrainedMerges.size)
    assert(fresh == Bpe.refTrainedMerges,
      s"frozen table drifted from a fresh train:\nfrozen=${Bpe.refTrainedMerges}\nfresh =$fresh")
  }

  test("encodeWith(refTrainedMerges): trained serving matches the greedy reference") {
    import spark.implicits._
    val docs = Seq((1L, "the merger can scan the hash batch"),
      (2L, "join parlor stow")).toDF("doc_id", "text")
    val ids = Bpe.encodeWith(docs, Bpe.refTrainedMerges).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    // greedy reference: repeatedly merge the lowest-rank adjacent pair
    def greedy(word: String): Seq[String] = {
      val ranks = Bpe.refTrainedMerges.zipWithIndex.toMap
      var syms = word.map(_.toString)
      var done = false
      while (!done) {
        val cand = syms.zip(syms.drop(1)).zipWithIndex
          .flatMap { case ((a, b), i) => ranks.get((a, b)).map(r => (r, i)) }
        if (cand.isEmpty) done = true
        else {
          val (r, i) = cand.minBy(_._1)
          val (a, b) = Bpe.refTrainedMerges(r)
          syms = syms.take(i) ++ Seq(a + b) ++ syms.drop(i + 2)
        }
      }
      syms
    }
    val vocab = Bpe.vocabIdsOf(Bpe.refTrainedMerges)
    def md5ids(text: String): String = {
      val stream = text.split(' ').filter(_.nonEmpty).toSeq.flatMap(greedy)
        .map(sy => if (sy.length == 1) sy.codePointAt(0) else vocab(sy))
      java.security.MessageDigest.getInstance("MD5")
        .digest(stream.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(ids(1L) == md5ids("the merger can scan the hash batch"))
    assert(ids(2L) == md5ids("join parlor stow"))
  }

  private def seededWords(seed: Int, alphabet: Seq[String], n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(_ => Seq.fill(1 + rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.size))).mkString).distinct
  }

  /** Kernel symbols AND ids of each word under `ms`, against the greedy
    * reference (ids: code point, or VOCAB_BASE + rank).
    */
  private def assertGreedy(ms: Seq[(String, String)], words: Seq[String]): Unit = {
    val vocab = Bpe.vocabIdsOf(ms)
    val got = words.toDF("text")
      .select(col("text"), Bpe.syms(col("text"), ms), Bpe.ids(col("text"), ms))
      .collect().map(r => r.getString(0) -> ((r.getSeq[String](1), r.getSeq[Int](2)))).toMap
    words.foreach { w =>
      val want = greedyBpe(w, ms)
      assert(got(w)._1 == want, s"word '$w' under ${ms.size} rules: kernel ${got(w)._1} != greedy $want")
      assert(got(w)._2 == want.map(sy => vocab.getOrElse(sy, sy.codePointAt(0))), s"ids of '$w'")
    }
  }

  test("kernel == greedy reference: supplementary-plane symbols, trained ' and \\ symbols, a 40-rule table") {
    // one code point, two UTF-16 units: rules over them are single-symbol rules
    val astral = Seq(("😀", "a"), ("b", "😀a"), ("𝔘", "b"), ("𝔘b", "😀a"))
    assertGreedy(astral, seededWords(0xa57, Seq("😀", "a", "b", "𝔘", "x"), 300) :+ "𝔘b😀a😀a")
    // trained symbols carrying the characters SQL string literals escape
    val quoted = Bpe.train(Seq((1L, "don't don't can't a\\b a\\b c\\d'e c\\d'e")).toDF("doc_id", "text"),
      nMerges = 8)
    assert(quoted.exists(r => (r._1 + r._2).contains("'")) &&
      quoted.exists(r => (r._1 + r._2).contains("\\")), s"got $quoted")
    assertGreedy(quoted, seededWords(0x907, Seq("d", "o", "n", "'", "t", "c", "a", "\\", "b", "e"), 300))
    // a table past the old per-rule chain's analyzer ceiling (~20 rules),
    // trained on a seeded Zipf-ish corpus
    val vocab = seededWords(0xb16, "theinandrgostlumc".map(_.toString), 80)
    val rnd = new scala.util.Random(0xb17)
    val corpus = Seq.fill(600)(vocab(rnd.nextInt(1 + rnd.nextInt(vocab.size)))).mkString(" ")
    val big = Bpe.train(Seq((1L, corpus)).toDF("doc_id", "text"), nMerges = 40)
    assert(big.size >= 32, s"only ${big.size} rules learned")
    val alphabet = big.flatMap(r => (r._1 + r._2).codePoints.toArray.map(Character.toString)).distinct
    assertGreedy(big, vocab ++ seededWords(0xb18, alphabet, 300))
  }

  test("byte model: ids are bytes below 256 or VOCAB_BASE + rank, greedy over carrier characters, decode inverts") {
    val words = Seq("the", "rather", "café", "中文", "😀ok", "ĀbĀ", "a\nb")
    val out = words.toDF("text")
      .select(col("text"), Bpe.ids(col("text"), bytes = true).as("ids"))
      .select(col("text"), col("ids"), Bpe.decode(col("ids"), bytes = true))
      .collect()
    out.foreach { r =>
      val (w, ids, dec) = (r.getString(0), r.getSeq[Int](1), r.getString(2))
      val carriers = w.getBytes("UTF-8").map(b => Character.toString(BpeKernel.carrier(b & 0xff))).mkString
      val want = greedyBpe(carriers, Bpe.merges).map(sy =>
        Bpe.vocabIds.getOrElse(sy, { val cp = sy.codePointAt(0); if (cp >= 256) cp - 256 else cp }))
      assert(ids == want, s"'$w': kernel $ids != greedy-over-carriers $want")
      assert(ids.filter(_ < Bpe.VOCAB_BASE).forall(i => i >= 0 && i <= 255), s"'$w' leaked a base id: $ids")
      assert(dec == w, s"byte decode of '$w' gave '$dec'")
    }
  }

}
