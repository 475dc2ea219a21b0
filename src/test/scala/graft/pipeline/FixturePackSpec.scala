package graft.pipeline

import graft.SparkSpec

/** Pins the compiled fixture assemblers byte-for-byte against references
  * built from the SQL closed forms themselves — [[PipelineQueries.audioSampleD]]
  * and [[PipelineQueries.rasterPx]], the strings the DuckDB oracle also
  * evaluates, here evaluated by Spark through `expr` on a literal frame.
  * The staged media payloads feed every audio/image/video query, so a
  * transcription slip between the closed form and the compiled loop would
  * surface as oracle mismatches corpus-wide; this spec catches it at the
  * operator.
  */
class FixturePackSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, expr}

  // ---- WAV fixture reference (mono 16-bit PCM, 8 kHz) --------------------

  private def nSamples(d: Long): Int = (650 + (d % 5) * 65).toInt

  /** Every sample of each (doc, variant) clip, in order, from the closed form. */
  private def samplesOf(clips: Seq[(Long, Boolean)]): Map[(Long, Boolean), Seq[Long]] =
    clips.flatMap { case (d, v) => (0 until nSamples(d)).map(t => (d, t.toLong, v)) }
      .toDF("d", "t", "v")
      .select(col("d"), col("v"), col("t"),
        expr(PipelineQueries.audioSampleD("d", "t", "v")).cast("long"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getBoolean(1)))
      .map { case (k, rs) => k -> rs.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq }

  private def wavRef(d: Long, v: Boolean, samples: Seq[Long]): Array[Byte] = {
    val n = nSamples(d)
    val bb = java.nio.ByteBuffer.allocate(44 + n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + n * 2)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1); bb.putInt(8000); bb.putInt(16000)
    bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes("US-ASCII")); bb.putInt(n * 2)
    samples.foreach(s => bb.putShort(s.toShort))
    bb.array()
  }

  test("audioFpMediaOf packed assembly matches the independent byte reference") {
    // ids cover every n%4 arm (d%5 in 0..4) and d%10==0 variants
    val ids = (0L to 12L) :+ 101L :+ 777L :+ 1003L
    val out = PipelineQueries.audioFpMediaOf(ids.toDF("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(out.size == ids.size + ids.count(_ % 10 == 0))
    val samples = samplesOf(ids.map((_, false)) ++ ids.filter(_ % 10 == 0).map((_, true)))
    ids.foreach { d =>
      assert(java.util.Arrays.equals(out(d), wavRef(d, v = false, samples((d, false)))), s"doc $d")
    }
    ids.filter(_ % 10 == 0).foreach { d =>
      assert(java.util.Arrays.equals(out(d + 1000000L), wavRef(d, v = true, samples((d, true)))),
        s"variant of $d")
    }
  }

  // ---- raster fixture reference (9x8 PGM / 24-bit BMP) -------------------

  private val W = 9
  private val H = 8
  private val bmpRow = ((W * 3 + 3) / 4) * 4 // 28

  /** Every pixel of each (seed, variant) raster, from the closed form. */
  private def pixelsOf(rasters: Seq[(Long, Boolean)]): Map[(Long, Int, Int, Boolean), Long] =
    rasters.flatMap { case (d, v) => for (x <- 0 until W; y <- 0 until H) yield (d, x, y, v) }
      .toDF("d", "x", "y", "v")
      .select(col("d"), col("x"), col("y"), col("v"),
        expr(PipelineQueries.rasterPx("spark")("d", "x", "y", "v")).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(3)) -> r.getLong(4))
      .toMap

  private def pgmRef(d: Long, isVar: Boolean, px: Map[(Long, Int, Int, Boolean), Long]): Array[Byte] =
    s"P5\n$W $H\n255\n".getBytes("US-ASCII") ++
      (0 until W * H).map(i => px((d, i % W, i / W, isVar)).toByte).toArray

  private def bmpRef(d: Long, isVar: Boolean, px: Map[(Long, Int, Int, Boolean), Long]): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val imgSize = bmpRow * H
    val hdr = Array[Byte]('B', 'M') ++ le32(54 + imgSize) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(W) ++ le32(H) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(imgSize) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val body = (0 until bmpRow * H).map { b =>
      if (b % bmpRow >= W * 3) 0.toByte
      else px((d, (b % bmpRow) / 3, H - 1 - b / bmpRow, isVar)).toByte
    }.toArray
    hdr ++ body
  }

  test("rasterPayload packed assembly matches the independent byte reference") {
    // both containers (even=BMP, odd=PGM), both variant arms, assorted seeds
    val rows = Seq(
      (2L, 5L, false), (3L, 5L, false), (4L, 4L, true), (7L, 7L, true),
      (10L, 0L, false), (11L, 0L, true), (100L, 9999L, false), (101L, 9999L, true))
    val out = PipelineQueries.rasterPayload(rows.toDF("media_id", "__d", "__v"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    val px = pixelsOf(rows.map { case (_, d, v) => (d, v) }.distinct)
    rows.foreach { case (mid, d, v) =>
      val want = if (mid % 2 == 0) bmpRef(d, v, px) else pgmRef(d, v, px)
      assert(java.util.Arrays.equals(out(mid), want), s"media $mid (seed $d, var $v)")
    }
  }
}
