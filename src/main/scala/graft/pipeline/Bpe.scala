package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{BpeCodec, BpeKernel, BpeModel, BpeOp}

/** Real byte-pair-encoding (BPE) tokenization as a scan-side expression —
  * the subword token counts every token-denominated operator in this
  * package (Packing, Sampling.mixtureByBudget, TextAnalysis.vocabCoverage,
  * surprisal) should run on, instead of the whitespace-token
  * approximation.
  *
  * Reference analog: the fixed library-kernel discipline of
  * borsa-core/src/timeseries/resample.rs:26-121 — a deterministic,
  * unit-tested kernel with no configurable fuzz. The merge table is a
  * LITERAL (the model ships with the engine build, like a tokenizer's
  * merges.txt rides with the trained model) embedded in one native
  * codegen'd expression, [[graft.functions.BpeCodec]]: per word, split to
  * characters, then apply each merge rule in rank order. No shuffle, no
  * per-rule SQL — the classic Spark-first shape for a per-row kernel. The DuckDB oracle twins (`*D`) stay independent of
  * the kernel: they spell the same rank-order passes as SQL lambdas.
  *
  * ALGORITHM EQUIVALENCE (why rank-order exhaustive application == the
  * classic greedy lowest-rank-anywhere encode): the merge list is
  * WELL-FORMED — every compound symbol referenced by a rule is produced
  * by an EARLIER rule (validated at class load). Applying rule i can only
  * create its own output symbol `a+b`; any rule mentioning `a+b` must
  * come after i, and merging two symbols into one never creates a new
  * adjacency of two pre-existing symbols. So once rules 1..i-1 are
  * exhausted, rule i can never re-enable them — applying rules in rank
  * order exhaustively visits exactly the merges the greedy
  * lowest-rank-first loop performs (asserted against a literal greedy
  * reference implementation in BpeSpec).
  *
  * SIMULTANEOUS-MERGE FORM (why one pass per rule suffices): every rule
  * has left != right (validated), so two match positions can never be
  * adjacent (positions i and i+1 both matching forces a = b). All
  * occurrences of the pair in a word are therefore disjoint and merge in
  * ONE positional pass — no sequential fold, no fixpoint iteration per
  * rule.
  */
object Bpe {
  import TextOps.{toksS, toksD}

  /** Ordered merge rules; rank = position (0-based). Compound vocabulary
    * ids are VOCAB_BASE + rank (single characters keep their code point, the
    * byte-vocab convention).
    */
  val merges: Seq[(String, String)] = Seq(
    ("t", "h"),   // th   (id VOCAB_BASE + 0)
    ("th", "e"),  // the  (id 257)
    ("i", "n"),   // in   (id 258)
    ("a", "n"),   // an   (id 259)
    ("an", "d"),  // and  (id 260)
    ("e", "r"),   // er   (id 261)
    ("o", "n"),   // on   (id 262)
    ("r", "e"),   // re   (id 263)
    ("in", "g"),  // ing  (id 264)
    ("o", "r"),   // or   (id 265)
    ("s", "t"),   // st   (id 266)
    ("a", "t"))   // at   (id 267)

  /** Compound-id base: one ABOVE the Unicode code-point range
    * (0x10FFFF), so compound ids can never collide with a single
    * character's own code point. The previous base of 256 followed the
    * byte-vocab convention but this vocabulary's atoms are CODE POINTS,
    * not bytes — 'Ā' (U+0100 = 256) would have encoded as compound rank
    * 0 and decoded as "th". Any id below the base is, by construction, a
    * character id.
    */
  val VOCAB_BASE: Int = BpeKernel.VocabBase

  /** Compound symbol → integer id (VOCAB_BASE + rank) for any merge table. */
  def vocabIdsOf(ms: Seq[(String, String)]): Map[String, Int] =
    ms.zipWithIndex.map { case ((a, b), i) => (a + b) -> (VOCAB_BASE + i) }.toMap

  /** Compound symbol → integer id for the shipped table. */
  val vocabIds: Map[String, Int] = vocabIdsOf(merges)

  /** FROZEN TRAINED merge table — [[train]] run once over the sf0.01
    * `documents` corpus (nMerges = 16, minCount = 2, via
    * [[TrainBpeTool]]) and baked as a literal, the
    * [[graft.pipeline.Similarity.refPqCodebooks]] discipline for model
    * artifacts: training is a one-time offline job, serving folds the
    * frozen constants into the scan, and the DuckDB oracle is generated
    * from the SAME literal so the two engines cannot drift. BpeSpec
    * asserts this table equals a fresh [[train]] on the same corpus
    * (drift between the literal and the trainer fails the suite); note
    * it learned whole corpus words ("join", "hash", "row") — the
    * Zipfian-head behavior real BPE training shows. The kernel puts no
    * ceiling on the rule count (its cost per word does not grow with the
    * table); 16 rules keep the DuckDB oracle twin, which nests one lambda
    * level per rule, small.
    */
  val refTrainedMerges: Seq[(String, String)] = Seq(
    ("e", "r"),
    ("i", "n"),
    ("o", "w"),
    ("o", "r"),
    ("s", "t"),
    ("m", "er"),
    ("a", "t"),
    ("l", "u"),
    ("a", "r"),
    ("p", "ar"),
    ("j", "o"),
    ("jo", "in"),
    ("a", "s"),
    ("as", "h"),
    ("h", "ash"),
    ("r", "ow"))
  validate(refTrainedMerges)

  /** Fail-fast validation of the two structural properties the kernel
    * depends on (see the object scaladoc). Public so specs can assert
    * malformed tables are rejected.
    */
  def validate(ms: Seq[(String, String)]): Unit = BpeKernel.validate(ms)
  validate(merges)

  // ------------------------------------------------------------ expressions

  /** String-literal escape for symbols embedded in the oracle SQL —
    * shipped merges are plain letters, but TRAINED tables carry arbitrary
    * corpus characters (apostrophes). DuckDB doubles the quote.
    */
  private def lit1D(s: String): String = s.replace("'", "''")

  /** Oracle form of one merge-rule application over a symbol-array
    * lambda variable `sv`: merged pairs emit their concatenation at the
    * left position, the consumed right position emits NULL, everything
    * else passes through; the filter drops the NULLs. All positions merge
    * in one pass — sound because left != right (see scaladoc).
    */
  private def applyRuleD(sv: String, k: Int, a0: String, b0: String): String = {
    val (a, b, ab) = (lit1D(a0), lit1D(b0), lit1D(a0 + b0))
    s"""list_filter(list_transform(generate_series(1, len($sv)), i$k ->
       |  CASE WHEN i$k < len($sv) AND $sv[i$k] = '$a' AND $sv[i$k + 1] = '$b' THEN '$ab'
       |       WHEN i$k > 1 AND $sv[i$k - 1] = '$a' AND $sv[i$k] = '$b' THEN NULL
       |       ELSE $sv[i$k] END), x$k -> x$k IS NOT NULL)""".stripMargin.replace("\n", " ")
  }

  /** Oracle BPE symbols of one word (a lambda variable): characters,
    * then every rule in rank order, each level lambda-bound via the
    * single-element-transform let-binding (the rule body references its
    * input array several times).
    */
  private def wordSymsD(w: String, ms: Seq[(String, String)] = merges): String = {
    val chars = s"list_transform(generate_series(1, len($w)), c0 -> $w[c0])"
    ms.zipWithIndex.foldLeft(chars) { case (acc, ((a, b), i)) =>
      val k = i + 1
      s"list_transform([$acc], s$k -> ${applyRuleD(s"s$k", k, a, b)})[1]"
    }
  }

  /** Per-document BPE symbol array (`array<string>`, document order
    * preserved: words in token order, symbols in word order) — the text
    * split on ' ' with empty words dropped, each word encoded. `ms` swaps
    * in a TRAINED merge table ([[train]]) for the shipped literal.
    */
  def syms(text: Column, ms: Seq[(String, String)] = merges): Column =
    BpeCodec.of(text, BpeModel(ms, bytes = false), BpeOp.Syms)

  /** Per-document symbol ids (`array<int>`): code point, or byte value
    * under the byte model, for single symbols; VOCAB_BASE + rank for
    * compounds.
    */
  def ids(text: Column, ms: Seq[(String, String)] = merges, bytes: Boolean = false): Column =
    BpeCodec.of(text, BpeModel(ms, bytes), BpeOp.Ids)

  /** BPE token COUNT (`bigint`) — drop-in for the whitespace token count
    * wherever a token-denominated operator takes one (packChunks,
    * mixtureByBudget, vocab budgets): the subword count is what a
    * trainer's context length is actually denominated in.
    */
  def nTokens(text: Column, ms: Seq[(String, String)] = merges): Column =
    BpeCodec.of(text, BpeModel(ms, bytes = false), BpeOp.Count)

  def symsD(textCol: String): String = symsWithD(textCol, merges)
  def symsWithD(textCol: String, ms: Seq[(String, String)]): String =
    s"flatten(list_transform(${toksD(textCol)}, w0 -> ${wordSymsD("w0", ms)}))"

  /** DETERMINISTIC DISTRIBUTED BPE TRAINING — learn a merge table from
    * the corpus instead of shipping one (the [[KMeans.train]] discipline
    * applied to the tokenizer: train and serve from the same engine).
    *
    * Standard BPE training loop on the WORD-COUNT DICTIONARY (Sennrich):
    * the corpus collapses to (word, count) once — vocabulary is Zipfian,
    * so the dict is vocab-sized — and every round is ONE vocab-sized
    * aggregation: explode each dict word's adjacent symbol pairs weighted
    * by the word's count, pick the most frequent pair (ties broken
    * lexically — total order, so identical corpora train identical
    * tables), merge it into the dict scan-side, repeat. Only one
    * (pair, count) row reaches the driver per round — model-sized, the
    * control-plane convention.
    *
    * Departure from textbook BPE, documented: candidate pairs with
    * left == right (e.g. doubling 'aa') are SKIPPED, because the
    * engine's encoder applies each rule as one simultaneous positional
    * pass, which is only sound for left != right (see the object
    * scaladoc). Every trained table therefore passes [[validate]] and
    * composes with [[syms]] / the greedy reference directly.
    * Training stops early when no pair occurs at least `minCount` times.
    * Each round re-encodes the dict words through the kernel with the
    * table learned so far: rank-order application makes that the previous
    * round's symbols with the new rule's single positional pass applied.
    */
  def train(
      docs: DataFrame,
      nMerges: Int,
      minCount: Long = 2L,
      textCol: String = "text"): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be non-negative, got $nMerges")
    require(minCount >= 1, s"minCount must be positive, got $minCount")
    // per-round lineage truncation via the SHARED helper so BPE training
    // honors the engine-wide spark.graft.reliableCheckpoint switch like
    // every other iterative operator (ADVICE r20 — the bare
    // localCheckpoint left unrecoverable local blocks on reliable runs)
    def encoded(dict: DataFrame, ms: Seq[(String, String)]) = Checkpoints.iterCheckpoint(
      dict.select(col("w"), col("c"), syms(col("w"), ms).as("syms")), "Bpe.train")
    var dict = encoded(docs.select(explode(expr(toksS(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c")), Nil)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (learned.size < nMerges && !exhausted) {
      // adjacent symbol pairs of every dict word, weighted by word count;
      // left == right pairs excluded (encoder soundness — see scaladoc)
      val best = dict
        .select(explode(expr(
          """filter(zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1),
            |  (pa, pb) -> struct(pa as a, pb as b)), p0 -> p0.a != p0.b)"""
            .stripMargin.replace("\n", " "))).as("p"), col("c"))
        .groupBy("p").agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("p.a"), col("p.b"))
        .limit(1)
        .collect()
      best.headOption.filter(_.getLong(1) >= minCount) match {
        case None => exhausted = true
        case Some(row) =>
          val p = row.getStruct(0)
          val (a, b) = (p.getString(0), p.getString(1))
          learned += ((a, b))
          dict = encoded(dict, learned.toSeq)
      }
    }
    learned.toSeq
  }

  /** Oracle symbol → integer id over a symbol lambda variable: code point
    * for single characters, VOCAB_BASE + rank for compounds. The -1 arm is
    * unreachable (every multi-char symbol is produced by a rule — the
    * well-formedness invariant).
    */
  private def idOfD(sy: String, ms: Seq[(String, String)] = merges): String = {
    val compounds = vocabIdsOf(ms).toSeq.sortBy(_._2)
      .map { case (s, id) => s"WHEN '${lit1D(s)}' THEN $id" }.mkString(" ")
    s"CASE WHEN len($sy) = 1 THEN ascii($sy) ELSE CASE $sy $compounds ELSE -1 END END"
  }

  /** Oracle symbol of one integer id — the inverse of [[idOfD]]: code
    * point back to its character below VOCAB_BASE, compound rank back to
    * its merged string. Ids outside the vocabulary decode to NULL (which
    * the string join skips — a corrupted stream surfaces as a round-trip
    * mismatch, not a crash). The character arm is range-guarded: negative
    * ids and the UTF-16 surrogate block (U+D800–U+DFFF, not characters)
    * would make `chr` throw, so a hostile external id stream must fall
    * through to NULL first. The kernel's decode keeps the same contract.
    */
  private def symOfD(idv: String): String = {
    val compounds = vocabIds.toSeq.sortBy(_._2)
      .map { case (s, id) => s"WHEN $id THEN '${lit1D(s)}'" }.mkString(" ")
    s"CASE WHEN $idv >= 0 AND $idv < $VOCAB_BASE " +
      s"AND NOT ($idv BETWEEN 55296 AND 57343) " +
      s"THEN chr(($idv)::INT) ELSE CASE $idv $compounds ELSE NULL END END"
  }

  /** DECODE an id array back to text — the inverse every tokenizer ships
    * (inspection, sampling dashboards, loss-masking audits decode what
    * the loader packed). Scan-side, like the encode. CONTRACT: whitespace
    * is not in this vocabulary (the tokenizer splits on it), so decoding
    * a document's flat id stream yields the SPACE-STRIPPED normalized
    * text; per WORD the round trip is exact (spec-asserted over the
    * seeded fuzz corpus). The SPACED stream ([[symsSpacedD]]) carries the
    * space-marker symbol (id 32) between words — the SentencePiece/GPT-2
    * convention reduced to this vocabulary's whitespace model — and
    * decodes BYTE-EXACTLY up to the tokenizer's own normalization (runs
    * of spaces collapse; leading/trailing spaces strip, because
    * `split(text, ' ')` drops empties). The decode itself is
    * convention-free (ids → symbols → concat) and serves both streams.
    */
  def decode(ids: Column, ms: Seq[(String, String)] = merges, bytes: Boolean = false): Column =
    BpeCodec.of(ids, BpeModel(ms, bytes), BpeOp.Decode)
  def decodeD(idsCol: String): String =
    s"array_to_string(list_transform($idsCol, v0 -> ${symOfD("v0")}), '')"

  /** Per-document symbol stream WITH the space-marker symbol between
    * words — what a production loader actually packs, because its decode
    * is byte-exact (see [[decode]]). The space can never merge: every
    * rule's symbols come from space-SPLIT words (trainer and shipped
    * table alike), so ' ' appears in no rule and always survives as a
    * single id-32 token. Built by prepending the marker to EVERY word and
    * slicing off the leading one — one evaluation of the per-word rule
    * chain, where an indexed-lambda CASE would duplicate the whole chain
    * per branch.
    */
  def symsSpacedD(textCol: String): String = symsSpacedWithD(textCol, merges)
  def symsSpacedWithD(textCol: String, ms: Seq[(String, String)]): String = {
    val spaced = s"flatten(list_transform(${toksD(textCol)}, w0 -> list_prepend(' ', ${wordSymsD("w0", ms)})))"
    s"list_transform([$spaced], fs0 -> CASE WHEN len(fs0) = 0 THEN fs0 ELSE fs0[2:] END)[1]"
  }

  /** Per-document encode→decode ROUND TRIP audit over the SPACED stream:
    * BPE token count (space markers included — they occupy loader
    * positions), md5 of the decoded text, and whether the decode
    * reproduces the document BYTE-EXACTLY modulo the tokenizer's
    * whitespace normalization (`dd = concat_ws(' ', toks)`: only texts
    * with leading/trailing/doubled spaces differ from their round trip,
    * and those the tokenizer itself normalizes — documented contract).
    * Asserting this corpus-wide is the cheapest end-to-end integrity
    * check of the whole id table. One projection per document: the
    * kernel encodes the spaced stream and decodes it back.
    */
  def decodeRoundTrip(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    roundTrip(docs, idCol, textCol, merges, bytes = false)

  /** The round-trip projection [[decodeRoundTrip]] and [[byteRoundTrip]]
    * share: (idCol, n_bpe_tokens, decoded_md5, roundtrip_ok, extra…),
    * over the spaced id stream (marker id 32 between words, see
    * [[decode]]). The spaced ids are projected first as `__ids` (the
    * `extra` columns may read them too), so the plan keeps the encode in
    * its own projection, evaluated once per document.
    */
  private def roundTrip(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      ms: Seq[(String, String)],
      bytes: Boolean,
      extra: Column*): DataFrame = {
    val dd = coalesce(decode(col("__ids"), ms, bytes), lit(""))
    val spaced = BpeCodec.of(col(textCol), BpeModel(ms, bytes), BpeOp.SpacedIds)
    docs.select(col(idCol), col(textCol), spaced.as("__ids"))
      .select(Seq(col(idCol),
        coalesce(size(col("__ids")).cast("long"), lit(0L)).as("n_bpe_tokens"),
        md5(dd).as("decoded_md5"),
        (dd === expr(s"concat_ws(' ', ${toksS(textCol)})")).as("roundtrip_ok")) ++ extra: _*)
  }

  /** DuckDB oracle twin of [[decodeRoundTrip]] — generated from the same
    * constants (the [[encodeSqlD]] discipline).
    */
  def decodeRoundTripSqlD: String = {
    val ids = s"list_transform(ss, sy -> ${idOfD("sy")})"
    s"""WITH syms AS (SELECT doc_id, ${toksD("text")} AS toks, ${symsSpacedD("text")} AS ss FROM documents),
       |dec AS (SELECT doc_id, toks, ss, ${decodeD(ids)} AS dd FROM syms)
       |SELECT doc_id,
       |  CAST(len(ss) AS BIGINT) AS n_bpe_tokens,
       |  md5(dd) AS decoded_md5,
       |  dd = array_to_string(toks, ' ') AS roundtrip_ok
       |FROM dec ORDER BY doc_id""".stripMargin
  }

  /** TOKENIZER FERTILITY by language — BPE tokens per whitespace word,
    * per language: the metric that exposes a tokenizer under-serving a
    * language (a vocab trained on English fragments everything else into
    * near-character streams; fertility 2-3× the trained language's is
    * the classic symptom, and it silently multiplies that language's
    * compute cost and shrinks its effective context). Output per lang:
    * (lang, n_words, n_bpe_tokens, fertility_ppm = bpe*1e6 div words).
    *
    * Scale shape: one kernel pass per document and ONE lang-keyed
    * aggregation with map-side partials: zero extra shuffles, and every
    * doc row (empty ones included) reaches the aggregate, so no language
    * can vanish from the report.
    */
  def fertilityByLang(
      docs: DataFrame,
      langCol: String = "lang",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(langCol),
        expr(s"cast(size(${toksS(textCol)}) as bigint)").as("__nw"),
        nTokens(col(textCol)).as("__nb"))
      .groupBy(langCol)
      .agg(sum(col("__nw")).as("n_words"), sum(col("__nb")).as("n_bpe_tokens"))
      .select(col(langCol),
        col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000000 DIV greatest(n_words, 1)").as("fertility_ppm"))

  /** DuckDB oracle twin of [[fertilityByLang]] (per-doc scan form — the
    * oracle verifies VALUES, not the plan shape).
    */
  def fertilitySqlD: String =
    s"""WITH syms AS (SELECT lang, ${toksD("text")} AS toks, ${symsD("text")} AS ss FROM documents)
       |SELECT lang,
       |  CAST(sum(len(toks)) AS BIGINT) AS n_words,
       |  CAST(sum(len(ss)) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(len(ss)) * 1000000 // greatest(sum(len(toks)), 1) AS BIGINT) AS fertility_ppm
       |FROM syms GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-document encode summary: whitespace token count, BPE token
    * count, and the md5 of the comma-joined id sequence (order-exact —
    * two documents agree iff their full BPE id streams agree). One
    * projection per document over the kernel.
    */
  def encode(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    encodeWith(docs, merges, idCol, textCol)

  /** DuckDB oracle twin of [[encode]] over the `documents` table —
    * generated from the same merge constants so the two dialects cannot
    * drift (the TextOps convention).
    */
  def encodeSqlD: String =
    s"""WITH syms AS (SELECT doc_id, ${toksD("text")} AS toks, ${symsD("text")} AS ss FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(ss) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(list_transform(ss, sy -> (${idOfD("sy")})::VARCHAR), ',')) AS ids_md5
       |FROM syms ORDER BY doc_id""".stripMargin

  /** [[encode]] with an arbitrary (typically TRAINED) merge table: same
    * output schema, ids are VOCAB_BASE + the table's own ranks. The
    * serving path for [[refTrainedMerges]] — the table rides in the
    * kernel expression, exactly like the shipped one.
    */
  def encodeWith(
      docs: DataFrame,
      ms: Seq[(String, String)],
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // the ids are projected first and read twice (count and md5), so the
    // plan keeps the encode in its own projection, evaluated once
    docs.select(col(idCol), col(textCol), ids(col(textCol), ms).as("__ids"))
      .select(col(idCol),
        expr(s"cast(size(${toksS(textCol)}) as bigint)").as("n_ws_tokens"),
        coalesce(size(col("__ids")).cast("long"), lit(0L)).as("n_bpe_tokens"),
        md5(concat_ws(",", col("__ids").cast("array<string>"))).as("ids_md5"))

  /** DuckDB oracle twin of [[encodeWith]] — generated from the same merge
    * constants (the [[encodeSqlD]] discipline), so a frozen trained table
    * is hash-checked against DuckDB exactly like the shipped one.
    */
  def encodeSqlWithD(ms: Seq[(String, String)]): String =
    s"""WITH syms AS (SELECT doc_id, ${toksD("text")} AS toks, ${symsWithD("text", ms)} AS ss FROM documents)
       |SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_ws_tokens,
       |  CAST(len(ss) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(list_transform(ss, sy -> (${idOfD("sy", ms)})::VARCHAR), ',')) AS ids_md5
       |FROM syms ORDER BY doc_id""".stripMargin
  // ------------------------------------------------------- byte fallback

  /** BYTE-FALLBACK encoding — the GPT-2 byte-level convention reduced to
    * this engine's symbol machinery: a word's atoms are its UTF-8 BYTES,
    * not its code points, so the base alphabet is BOUNDED at 256 ids
    * however exotic the input (the property production tokenizers ship
    * byte fallback for — the embedding table cannot grow with Unicode).
    * Merge tables name bytes by CARRIER CHARACTER, so one table serves
    * both models: printable ASCII bytes (0x21–0x7E) keep their own code
    * point — the shipped and trained merge tables, whose symbols are
    * ASCII letters, operate identically on carrier strings — and every
    * other byte b maps injectively to U+0100+b (the GPT-2 byte-encoder
    * idea with a simpler rule; carrier code points stay in
    * U+0021–U+01FF, printable and surrogate-free; see
    * [[graft.functions.BpeKernel.carrier]]). Ids: a single carrier char
    * is its BYTE VALUE (0–255); compounds keep VOCAB_BASE + rank. Decode inverts exactly — ids → carrier string → bytes → one
    * UTF-8 decode — so the round trip is byte-exact for any valid UTF-8
    * input, including multi-byte scripts and supplementary-plane emoji
    * the code-point model covers only with unbounded ids. On printable
    * pure-ASCII text the two models emit IDENTICAL id streams
    * (spec-asserted), so the fallback is a strict extension.
    */
  private def byteWordD(w: String): String =
    s"""list_transform([hex(encode($w))], hx0 ->
       |  CASE WHEN length(hx0) < 2 THEN '' ELSE
       |    array_to_string(list_transform(generate_series(1, length(hx0) // 2), bi ->
       |      list_transform([('0x' || substr(hx0, 2*bi - 1, 2))::INT],
       |        b0 -> chr(CASE WHEN b0 BETWEEN 33 AND 126 THEN b0 ELSE b0 + 256 END))[1]), '')
       |  END)[1]"""
      .stripMargin.replace("\n", " ")

  /** Oracle id of one byte-model symbol: carrier char → its byte value,
    * compound → VOCAB_BASE + rank (unknown compounds → -1, the
    * [[idOfD]] convention).
    */
  private def byteIdOfD(sy: String, ms: Seq[(String, String)]): String = {
    val compounds = vocabIdsOf(ms).toSeq.sortBy(_._2)
      .map { case (s, id) => s"WHEN '${lit1D(s)}' THEN $id" }.mkString(" ")
    s"CASE WHEN len($sy) = 1 THEN " +
      s"CASE WHEN ascii($sy) >= 256 THEN ascii($sy) - 256 ELSE ascii($sy) END " +
      s"ELSE CASE $sy $compounds ELSE -1 END END"
  }

  /** Oracle byte-model symbol of one id — carrier char below 256,
    * compound string for known compound ids, NULL otherwise (the
    * [[symOfD]] hostile-id contract).
    */
  private def byteSymOfD(idv: String, ms: Seq[(String, String)]): String = {
    val compounds = vocabIdsOf(ms).toSeq.sortBy(_._2)
      .map { case (s, id) => s"WHEN $id THEN '${lit1D(s)}'" }.mkString(" ")
    s"CASE WHEN $idv >= 0 AND $idv < 256 THEN " +
      s"chr(CASE WHEN $idv BETWEEN 33 AND 126 THEN ($idv)::INT ELSE ($idv)::INT + 256 END) " +
      s"ELSE CASE $idv $compounds ELSE NULL END END"
  }

  /** Oracle carrier string → original word: each carrier char back to its
    * byte, the byte string through ONE UTF-8 decode.
    */
  private def byteDecodeWordD(m: String): String =
    s"""list_transform([$m], m0 ->
       |  CASE WHEN length(m0) < 1 THEN '' ELSE
       |    decode(from_hex(array_to_string(list_transform(generate_series(1, length(m0)), ci ->
       |      list_transform([ascii(m0[ci])], cp0 ->
       |        lpad(hex(CASE WHEN cp0 >= 256 THEN cp0 - 256 ELSE cp0 END), 2, '0'))[1]), '')))
       |  END)[1]"""
      .stripMargin.replace("\n", " ")

  /** Per-document byte-fallback encode→decode round trip (the
    * [[decodeRoundTrip]] projection under the byte model). Output per document:
    * (idCol, n_bpe_tokens, decoded_md5, roundtrip_ok, max_base_id) —
    * n_bpe_tokens counts the spaced stream (marker id 32 = the space
    * byte, between words), and max_base_id ≤ 255 is the BOUNDED-alphabet
    * witness the byte model exists for (the code-point model emits ids
    * up to 0x10FFFF on the same input). max_base_id is read off the same
    * spaced ids, so each document is encoded once.
    */
  def byteRoundTrip(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ms: Seq[(String, String)] = merges): DataFrame =
    roundTrip(docs, idCol, textCol, ms, bytes = true,
      coalesce(BpeCodec.of(col("__ids"), BpeModel(ms, bytes = true), BpeOp.MaxBaseId), lit(-1L))
        .as("max_base_id"))

  /** DuckDB oracle twin of [[byteRoundTrip]] over a CTE `aug(doc_id,
    * text)` — per-word form (the oracle verifies VALUES, not the plan). Yields CTEs ending in `bf(doc_id, n_bpe_tokens,
    * decoded_md5, roundtrip_ok, max_base_id)`.
    */
  def byteRoundTripSqlD(ms: Seq[(String, String)] = merges): String = {
    val decFromIds = byteDecodeWordD(
      s"array_to_string(list_transform(idv, v0 -> ${byteSymOfD("v0", ms)}), '')")
    s"""tk AS (SELECT doc_id, ${toksD("text")} AS toks FROM aug),
       |wd AS (SELECT doc_id, i AS pos, toks[i] AS w
       |       FROM tk, unnest(generate_series(1, len(toks))) AS g(i)),
       |wrow AS (SELECT doc_id, pos,
       |    list_transform([${byteWordD("w")}], bw ->
       |      list_transform([${wordSymsD("bw", ms)}], ws0 ->
       |        list_transform([list_transform(ws0, sy -> ${byteIdOfD("sy", ms)})], idv ->
       |          {'n': len(ws0),
       |           'maxb': coalesce(list_max(list_filter(idv, v1 -> v1 < $VOCAB_BASE)), -1),
       |           'd': $decFromIds})[1])[1])[1] AS r
       |  FROM wd),
       |agg AS (SELECT doc_id,
       |    CAST(sum(r.n) + count(*) - 1 AS BIGINT) AS n_bpe_tokens,
       |    string_agg(r.d, ' ' ORDER BY pos) AS dd,
       |    CAST(max(r.maxb) AS BIGINT) AS max_base_id
       |  FROM wrow GROUP BY doc_id),
       |bf AS (SELECT tk.doc_id,
       |    COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens,
       |    md5(COALESCE(agg.dd, '')) AS decoded_md5,
       |    COALESCE(agg.dd, '') = array_to_string(tk.toks, ' ') AS roundtrip_ok,
       |    COALESCE(agg.max_base_id, -1) AS max_base_id
       |  FROM tk LEFT JOIN agg USING (doc_id))""".stripMargin
  }

}
