package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernel: a validated merge table applied in one
  * compiled pass. It replaces a per-rule nested-lambda SQL chain, which
  * ran as interpreted `CodegenFallback` lambdas and handed Spark's parser
  * ~40k characters per query (whose DFA states the parser caches for the
  * life of the JVM).
  *
  * Symbol ids: an atom keeps its code point (code-point model) or its
  * UTF-8 byte value (byte model); the compound of rule `r` is
  * `VocabBase + r`, one above the Unicode range, so ids never collide.
  *
  * A text splits on ' ' with empty words dropped (the
  * `filter(split(text, ' '), …)` tokenizer); each word then merges every
  * occurrence of its lowest-rank adjacent pair until no rule fires. On a
  * [[validate]]d table this IS rank-order application: merging rule `r`
  * creates only compound `r`, which no rule below `r` mentions, so the
  * next merge always ranks above `r`; and as left != right, occurrences
  * of one pair never overlap, so one left-to-right pass merges them all.
  * A sorted pair index makes the cost per word independent of the table
  * size: there is no rule-count ceiling.
  */
object BpeKernel {
  val VocabBase: Int = 0x110000

  /** Fail-fast check of the two properties the merge pass relies on:
    * left != right, and every compound a rule references is produced by
    * an earlier rule (any other symbol is one code point).
    */
  def validate(ms: Seq[(String, String)]): Unit = {
    val produced = scala.collection.mutable.Set.empty[String]
    ms.zipWithIndex.foreach { case ((a, b), i) =>
      require(a.nonEmpty && b.nonEmpty, s"Bpe rule $i: empty symbol")
      require(a != b,
        s"Bpe rule $i: left == right ('$a') — adjacent occurrences would " +
          "overlap and the simultaneous-merge form would be unsound")
      Seq(a, b).foreach { s =>
        require(s.codePointCount(0, s.length) == 1 || produced.contains(s),
          s"Bpe rule $i references compound symbol '$s' before any earlier " +
            "rule produces it — the merge list is not well-formed, and " +
            "rank-order application would diverge from greedy BPE")
      }
      require(!produced.contains(a + b),
        s"Bpe rule $i produces '$a$b' twice")
      produced += (a + b)
    }
  }

  /** Byte-model carrier character of byte `b`, the character merge tables
    * name it by: printable ASCII keeps its code point, any other byte is
    * U+0100 + b.
    */
  def carrier(b: Int): Int = if (b >= 33 && b <= 126) b else b + 256
}

/** A merge table compiled for [[BpeKernel]]; `bytes` selects the byte
  * model over the code-point model.
  */
case class BpeModel(merges: Seq[(String, String)], bytes: Boolean) {
  import BpeKernel._
  validate(merges)

  override def toString: String = s"${if (bytes) "byte" else "codepoint"} model, ${merges.size} rules"

  private def pairKey(a: Int, b: Int): Long = (a.toLong << 32) | b

  // each rule's (left, right) id pair by rank; -1 when a byte-model rule
  // names a non-carrier character, which no byte produces
  @transient private lazy val pairs: Array[Long] = {
    val compound = merges.zipWithIndex.map { case ((a, b), r) => (a + b) -> (VocabBase + r) }.toMap
    def side(s: String): Int = compound.getOrElse(s, {
      val cp = s.codePointAt(0)
      if (!bytes) cp else if (cp < 512 && carrier(cp & 0xff) == cp) cp & 0xff else -1
    })
    merges.map { case (a, b) => if (side(a) < 0 || side(b) < 0) -1L else pairKey(side(a), side(b)) }.toArray
  }

  // the live pairs sorted, with their ranks
  @transient private lazy val index: (Array[Long], Array[Int]) = {
    val live = pairs.zipWithIndex.filter(_._1 >= 0).sortBy(_._1)
    (live.map(_._1), live.map(_._2))
  }

  @transient private lazy val compounds: Array[String] = merges.map { case (a, b) => a + b }.toArray

  /** Merges the word `buf(from until to)` in place; returns its new end. */
  private def mergeWord(buf: Array[Int], from: Int, to: Int): Int = {
    val (sortedPairs, sortedRanks) = index
    var end = to
    var best = 0
    while (best >= 0) {
      best = -1
      var i = from
      while (i + 1 < end) {
        val k = java.util.Arrays.binarySearch(sortedPairs, pairKey(buf(i), buf(i + 1)))
        if (k >= 0 && (best < 0 || sortedRanks(k) < best)) best = sortedRanks(k)
        i += 1
      }
      if (best >= 0) {
        val (a, b) = ((pairs(best) >>> 32).toInt, pairs(best).toInt)
        var j = from
        i = from
        while (i < end) {
          if (i + 1 < end && buf(i) == a && buf(i + 1) == b) { buf(j) = VocabBase + best; i += 2 }
          else { buf(j) = buf(i); i += 1 }
          j += 1
        }
        end = j
      }
    }
    end
  }

  /** Symbol ids of every word of `text`, in order; `spaced` puts the
    * marker id 32 (' ' in both models) between words.
    */
  def ids(text: UTF8String, spaced: Boolean = false): Array[Int] = {
    val buf = if (bytes) text.getBytes.map(_ & 0xff) else text.toString.codePoints.toArray
    var n = 0
    var i = 0
    while (i < buf.length) {
      if (buf(i) == ' ') i += 1
      else {
        val from = i
        while (i < buf.length && buf(i) != ' ') i += 1
        val end = mergeWord(buf, from, i)
        // the separating space lies between n and from, so the marker fits
        if (spaced && n > 0) { buf(n) = ' '; n += 1 }
        System.arraycopy(buf, from, buf, n, end - from)
        n += end - from
      }
    }
    java.util.Arrays.copyOf(buf, n)
  }

  def idArray(text: UTF8String): ArrayData = UnsafeArrayData.fromPrimitiveArray(ids(text))
  def spacedIdArray(text: UTF8String): ArrayData = UnsafeArrayData.fromPrimitiveArray(ids(text, spaced = true))
  def count(text: UTF8String): Long = ids(text).length.toLong
  /** Largest atom id of an id stream, -1 when it has none; the marker id
    * 32 is skipped (it is the space, which no word contains).
    */
  def maxBaseId(idArr: ArrayData): Long =
    (0 until idArr.numElements()).filterNot(idArr.isNullAt).map(idArr.getInt)
      .filter(id => id < VocabBase && id != ' ').maxOption.getOrElse(-1).toLong
  def syms(text: UTF8String): ArrayData = new GenericArrayData(ids(text).map { id =>
    UTF8String.fromString(
      if (id >= VocabBase) compounds(id - VocabBase) else Character.toString(if (bytes) carrier(id) else id)): Any
  })

  /** Ids back to text. An id the model cannot emit (NULL, negative, a
    * UTF-16 surrogate, past the table) decodes to nothing, so a corrupt
    * stream shows as a round-trip mismatch, not a failed task. The byte
    * model decodes its bytes as UTF-8 once, replacing malformed input.
    */
  def decode(idArr: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder
    (0 until idArr.numElements()).filterNot(idArr.isNullAt).map(idArr.getLong).foreach { v =>
      if (v >= VocabBase && v < VocabBase.toLong + merges.size) sb.append(compounds((v - VocabBase).toInt))
      else if (v >= 0 && v < (if (bytes) 256 else VocabBase) && (v < 0xD800 || v > 0xDFFF))
        sb.appendCodePoint(if (bytes) carrier(v.toInt) else v.toInt)
    }
    if (!bytes) UTF8String.fromString(sb.toString)
    else UTF8String.fromString(new String(sb.toString.codePoints.toArray.map(c => (c & 0xff).toByte), "UTF-8"))
  }
}

/** What a [[BpeCodec]] computes, the [[BpeModel]] method that does it,
  * and its input and output types.
  */
sealed abstract class BpeOp(val method: String, val dataType: DataType, val input: DataType = StringType)
object BpeOp {
  /** Symbol strings (byte model: carrier characters). */
  case object Syms extends BpeOp("syms", ArrayType(StringType))
  case object Ids extends BpeOp("idArray", ArrayType(IntegerType, containsNull = false))
  /** Ids with the marker id 32 between words: decodes to the words joined by ' '. */
  case object SpacedIds extends BpeOp("spacedIdArray", ArrayType(IntegerType, containsNull = false))
  case object Count extends BpeOp("count", LongType)
  /** Largest atom id of a (spaced) id array, -1 when every symbol is a
    * compound.
    */
  case object MaxBaseId extends BpeOp("maxBaseId", LongType, ArrayType(IntegerType))
  /** An id array back to text. */
  case object Decode extends BpeOp("decode", StringType, ArrayType(LongType))
}

/** One [[BpeKernel]] operation under an embedded merge table, codegen'd
  * as a single call on the compiled model. NULL in, NULL out.
  */
case class BpeCodec(child: Expression, model: BpeModel, op: BpeOp)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(op.input)
  override def dataType: DataType = op.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"bpe_${op.toString.toLowerCase}"

  override def nullSafeEval(in: Any): Any = op match {
    case BpeOp.Decode => model.decode(in.asInstanceOf[ArrayData])
    case BpeOp.Syms => model.syms(in.asInstanceOf[UTF8String])
    case BpeOp.Ids => model.idArray(in.asInstanceOf[UTF8String])
    case BpeOp.SpacedIds => model.spacedIdArray(in.asInstanceOf[UTF8String])
    case BpeOp.Count => model.count(in.asInstanceOf[UTF8String])
    case BpeOp.MaxBaseId => model.maxBaseId(in.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model, classOf[BpeModel].getName)
    defineCodeGen(ctx, ev, in => s"$ref.${op.method}($in)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeCodec {
  /** `op` over a text column, or over an id array for Decode and MaxBaseId. */
  def of(in: Column, model: BpeModel, op: BpeOp): Column =
    GraftSqlBridge.column(BpeCodec(GraftSqlBridge.expression(in.cast(op.input)), model, op))
}
